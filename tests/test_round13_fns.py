"""Semantic tests for the round-13 function-surface block (now in
functions/scalar.py and operators/sql_params.py): ordering/tie-break
inside listagg, variable resolution semantics, and the name-abbreviation
contract."""

from __future__ import annotations

from ai_dataingestion_spark.catalog import all_specs

SPECS = all_specs()


def test_listagg_is_order_deterministic(spark, sf_small):
    """The WITHIN GROUP (ORDER BY n_name, n_nationkey) concatenation must
    be byte-stable across runs AND equal the sorted-name join."""
    a = {r["n_regionkey"]: r["nations"] for r in
         SPECS["fn_listagg_within_group"].fn(spark, sf_small).collect()}
    b = {r["n_regionkey"]: r["nations"] for r in
         SPECS["fn_listagg_within_group"].fn(spark, sf_small).collect()}
    assert a == b
    from ai_dataingestion_spark.registry import load_table

    nat = load_table(spark, sf_small, "nation").collect()
    for rk, joined in a.items():
        names = sorted((r["n_name"], r["n_nationkey"]) for r in nat
                       if r["n_regionkey"] == rk and r["n_name"] is not None)
        assert joined == ",".join(n for n, _ in names)


def test_dayname_monthname_vocabulary(spark, sf_small):
    """Every emitted name must be one of the 7/12 English 3-letter
    abbreviations (or NULL) — the locale-stability contract."""
    days = {"Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun", None}
    months = {"Jan", "Feb", "Mar", "Apr", "May", "Jun",
              "Jul", "Aug", "Sep", "Oct", "Nov", "Dec", None}
    rows = SPECS["fn_datetime_names"].fn(spark, sf_small).collect()
    assert {r["dn"] for r in rows} <= days
    assert {r["mn"] for r in rows} <= months


def test_session_variable_threshold_matches_literal(spark, sf_small):
    """The variable-parameterized query must return exactly the literal
    subquery twin's rows — variables resolve at analysis time."""
    from ai_dataingestion_spark.registry import register_views

    got = {r["c_mktsegment"]: (r["n_above"], r["bal_cents"]) for r in
           SPECS["sql_session_variables"].fn(spark, sf_small).collect()}
    register_views(spark, sf_small)
    exp = {r["c_mktsegment"]: (r["n_above"], r["bal_cents"]) for r in spark.sql(
        """SELECT c_mktsegment, count(*) AS n_above,
                  coalesce(CAST(round(sum(c_acctbal) * 100) AS BIGINT), 0)
                    AS bal_cents
           FROM customer
           WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
           GROUP BY c_mktsegment"""
    ).collect()}
    assert got == exp


def test_null_safety_family_row_arithmetic(spark, sf_small):
    """Per segment: n >= n_bal_set >= n_nonzero, and the convenience forms
    agree with each other (nvl2 count equals count(c_acctbal))."""
    from ai_dataingestion_spark.registry import register_views

    rows = SPECS["fn_null_safety_family"].fn(spark, sf_small).collect()
    register_views(spark, sf_small)
    direct = {r["c_mktsegment"]: r["nn"] for r in spark.sql(
        "SELECT c_mktsegment, count(c_acctbal) AS nn FROM customer "
        "GROUP BY c_mktsegment").collect()}
    for r in rows:
        assert r["n"] >= r["n_bal_set"] >= r["n_nonzero"]
        assert r["n_bal_set"] == direct[r["c_mktsegment"]]
