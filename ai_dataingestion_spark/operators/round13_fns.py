"""§2.Z round-13 fifth block: Spark-4 function-surface completion —
listagg (SPARK-42746), the null-safety family (zeroifnull / nullifzero /
nvl2 / ifnull), dayname/monthname, and SQL session variables
(DECLARE VARIABLE / SET VAR, SPARK-46908).

These close the remaining §2.H-adjacent gaps the coverage audit still
showed: every op is a pure JVM-side expression or a session-scalar
binding — zero shuffle beyond the partial/final aggregate each query
already needs, and the dimension-sized outputs (segments, weekdays,
months, regions) keep shuffle payloads constant at any corpus size.

Dialect notes pinned by these oracles:
- listagg WITHIN GROUP (ORDER BY …) ≡ DuckDB string_agg(… ORDER BY …);
  both skip NULL elements and both order by binary collation, and the
  ORDER BY carries the unique key as tie-break (§5.4 determinism rule);
- zeroifnull/nullifzero/nvl2/ifnull have no DuckDB spellings — the oracle
  states them as coalesce/nullif/CASE, i.e. the op pins the DEFINITION of
  the convenience forms;
- Spark dayname/monthname emit 3-letter English abbreviations ≡ DuckDB
  strftime '%a' / '%b' (verified: 'Tue'/'Mar');
- session variables resolve at analysis time, so a variable-parameterized
  query plans exactly like its literal twin (the oracle inlines the
  variable's defining subquery verbatim).
"""

from __future__ import annotations

from ai_dataingestion_spark.catalog import sql_op


# ---------------------------------------------------------------------------
# fn_listagg_within_group — ordered string aggregation
# ---------------------------------------------------------------------------

sql_op(
    "fn_listagg_within_group",
    spark_sql="""
SELECT n_regionkey,
       count(n_name) AS n_named,
       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name, n_nationkey)
         AS nations
FROM nation
GROUP BY n_regionkey
""",
    oracle="""
SELECT n_regionkey,
       count(n_name) AS n_named,
       string_agg(n_name, ',' ORDER BY n_name, n_nationkey) AS nations
FROM nation
GROUP BY n_regionkey
""",
    doc="""listagg(col, sep) WITHIN GROUP (ORDER BY …): SQL:2016 ordered
    string aggregation, new in Spark 4.0 — the report-building primitive
    that previously required collect_list+array_sort+array_join. NULL
    elements are skipped by BOTH engines (the nulls tier NULLs one nation
    name; the group's count(n_name) drops by one and the string silently
    omits it — symmetric), an all-NULL group aggregates to NULL, and the
    ORDER BY carries n_nationkey as tie-break so the concatenation is
    deterministic. Per-group payload is bounded by the nation dimension;
    the aggregate is partial-aggregable with a 5-row output at any SF.""",
)


# ---------------------------------------------------------------------------
# fn_null_safety_family — zeroifnull / nullifzero / nvl2 / ifnull
# ---------------------------------------------------------------------------

sql_op(
    "fn_null_safety_family",
    spark_sql="""
SELECT c_mktsegment,
       count(*) AS n,
       CAST(sum(nvl2(c_acctbal, 1, 0)) AS BIGINT) AS n_bal_set,
       coalesce(CAST(round(sum(zeroifnull(c_acctbal)) * 100) AS BIGINT), 0)
         AS bal_cents,
       CAST(count(nullifzero(round(c_acctbal))) AS BIGINT) AS n_nonzero,
       ifnull(min(c_name), '(none)') AS first_name
FROM customer
GROUP BY c_mktsegment
""",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n,
       CAST(sum(CASE WHEN c_acctbal IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bal_set,
       coalesce(CAST(round(sum(coalesce(c_acctbal, 0)) * 100) AS BIGINT), 0)
         AS bal_cents,
       CAST(count(nullif(round(c_acctbal), 0)) AS BIGINT) AS n_nonzero,
       coalesce(min(c_name), '(none)') AS first_name
FROM customer
GROUP BY c_mktsegment
""",
    doc="""The Spark-4 null-safety convenience family, pinned against its
    definitional forms (DuckDB has none of these spellings): zeroifnull ≡
    coalesce(x, 0), nullifzero ≡ nullif(x, 0), nvl2(x, a, b) ≡ CASE WHEN x
    IS NOT NULL, ifnull ≡ coalesce. Exercised over the segment rollup the
    nulls tier stresses hardest (5% NULL c_acctbal, 3% NULL segment, 2%
    NULL names): n_bal_set counts non-NULLs, bal_cents treats NULL as 0,
    n_nonzero drops exact-zero balances, first_name falls back for an
    all-NULL group. All inline expressions inside one partial-aggregable
    hash aggregate; 5-6 output rows at any scale.""",
)


# ---------------------------------------------------------------------------
# fn_datetime_names — dayname / monthname
# ---------------------------------------------------------------------------

sql_op(
    "fn_datetime_names",
    spark_sql="""
SELECT dayname(o_orderdate) AS dn,
       monthname(o_orderdate) AS mn,
       count(*) AS n,
       coalesce(CAST(round(sum(o_totalprice) * 100) AS BIGINT), 0)
         AS price_cents
FROM orders
GROUP BY dayname(o_orderdate), monthname(o_orderdate)
""",
    oracle="""
SELECT strftime(o_orderdate, '%a') AS dn,
       strftime(o_orderdate, '%b') AS mn,
       count(*) AS n,
       coalesce(CAST(round(sum(o_totalprice) * 100) AS BIGINT), 0)
         AS price_cents
FROM orders
GROUP BY strftime(o_orderdate, '%a'), strftime(o_orderdate, '%b')
""",
    doc="""dayname/monthname (Spark 4.0): locale-stable 3-letter English
    abbreviations, pinned ≡ DuckDB strftime '%a'/'%b' ('Tue'/'Mar',
    measured) — the day-of-week × month seasonality rollup every order
    feed gets. NULL order dates name to NULL and form their own group on
    both engines (nulls tier); the epoch/DST tiers exercise the extreme
    and boundary timestamps through the same formatting path. Output is
    bounded by 7×12 groups regardless of corpus size — a constant-width
    shuffle.""",
)


# ---------------------------------------------------------------------------
# sql_session_variables — DECLARE VARIABLE / SET VAR / IDENTIFIER(var)
# ---------------------------------------------------------------------------

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
