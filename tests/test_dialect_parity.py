"""Tier-3 property-based parity (SURVEY.md §5.3): generated inputs through
BOTH engines' implementations of the dialect surfaces most likely to drift —
regex character classes, aggregate rounding, ISO day-of-week normalization,
and timestamp truncation.

One Spark batch per property (all hypothesis examples collected, run once)
keeps runtime sane — per-example Spark jobs would take minutes.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

TEXTS = st.text(
    alphabet=st.sampled_from("abc XYZ09._-#"), min_size=0, max_size=24
)
DOUBLES = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
DATES = st.dates()
CENTS = st.integers(min_value=0, max_value=10_000_000)


def _spark_one_col(spark, rows, ddl):
    return spark.createDataFrame([(r,) for r in rows], ddl)


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_regex_replace_and_extract_parity(spark, data):
    """regexp_replace (global) and regexp_extract over the same generated
    strings: Java regex vs DuckDB RE2 must agree on these class patterns.
    The tokenizer pair, ``tokens`` and ``tokens_sql``, must agree on them
    too, and on fixed edge rows: empty and blank text, leading, trailing
    and doubled spaces (empty tokens kept), a tab and a no-break space
    (not separators), and NULL."""
    strings = data.draw(st.lists(TEXTS, min_size=30, max_size=30))
    strings += ["", " ", " a", "a ", "a  b", "a\tb", "a\xa0b", None]
    df = _spark_one_col(spark, strings, "s string")
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import tokens, tokens_sql

    got = [
        (r.repl, r.ext, r.toks)
        for r in df.select(
            F.regexp_replace("s", r"[0-9]+", "#").alias("repl"),
            F.regexp_extract("s", r"([A-Z]+)", 1).alias("ext"),
            tokens("s").alias("toks"),
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        tuple(row)
        for row in con.execute(
            "SELECT regexp_replace(s, '[0-9]+', '#', 'g'),"
            "       regexp_extract(s, '([A-Z]+)', 1), "
            f"      {tokens_sql('s')} "
            "FROM (SELECT unnest(?) AS s)",
            [strings],
        ).fetchall()
    ]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_rounded_aggregate_parity(spark, data):
    """round(sum(x), 4) / round(avg(x), 6) over generated doubles must agree
    despite different summation orders — the engine's aggregate-rounding
    discipline in miniature. The money pair, ``money_sum(net_price())`` and
    ``money_sum_sql(NET_PRICE_SQL)``, must agree group for group over 2-dp
    prices and discounts with NULLs, discounts above 1 (negative net), an
    all-NULL group and two exact half-cent rows."""
    xs = data.draw(st.lists(DOUBLES, min_size=50, max_size=50))
    df = _spark_one_col(spark, xs, "x double")
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        NET_PRICE_SQL,
        money_sum,
        money_sum_sql,
        net_price,
    )

    row = df.agg(
        F.round(F.sum("x"), 4).alias("s"), F.round(F.avg("x"), 6).alias("a")
    ).collect()[0]
    con = duckdb.connect()
    want = con.execute(
        "SELECT round(sum(x), 4), round(avg(x), 6) FROM (SELECT unnest(?) AS x)",
        [xs],
    ).fetchone()
    assert (row.s, row.a) == want

    lines = data.draw(st.lists(st.tuples(
        st.integers(0, 3), CENTS.map(lambda c: c / 100) | st.none(),
        st.integers(0, 150).map(lambda c: c / 100) | st.none(),
    ), min_size=40, max_size=40))
    lines += [(4, 0.10, 0.05), (5, 2.0, 0.9975), (6, None, 0.05), (6, None, None)]
    got = [
        tuple(r)
        for r in spark.createDataFrame(
            lines, "g int, l_extendedprice double, l_discount double"
        )
        .groupBy("g")
        .agg(money_sum(net_price()).alias("m"))
        .orderBy("g")
        .collect()
    ]
    want = con.execute(
        f"SELECT g, {money_sum_sql(NET_PRICE_SQL)} FROM (SELECT unnest(?) AS g,"
        " unnest(?) AS l_extendedprice, unnest(?) AS l_discount)"
        " GROUP BY g ORDER BY g",
        [list(c) for c in zip(*lines)],
    ).fetchall()
    assert got == want
    assert dict(got)[6] is None


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_iso_dow_normalization_parity(spark, data):
    """The engine's dayofweek→ISO mapping ((dow + 5) % 7 + 1) must equal
    DuckDB's isodow for arbitrary dates (fn_date's §5.4 normalization)."""
    dates = data.draw(st.lists(DATES, min_size=40, max_size=40))
    df = _spark_one_col(spark, dates, "d date")
    from pyspark.sql import functions as F

    got = [
        r.iso
        for r in df.select(
            (((F.dayofweek("d") + 5) % 7) + 1).cast("bigint").alias("iso")
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        row[0]
        for row in con.execute(
            "SELECT isodow(d) FROM (SELECT unnest(?) AS d)", [dates]
        ).fetchall()
    ]
    assert got == want


def test_nanos_truncation_matches_duckdb(spark, sf_small):
    """The registry's `timestamp_micros(ts DIV 1000)` shim must reproduce
    DuckDB's silent ns→µs truncation row-for-row on the real events table —
    the single most load-bearing parity decision in the engine (§7.4)."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.registry import load_table

    got = {
        r.event_id: r.us
        for r in load_table(spark, sf_small, "events")
        .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{sf_small}/events.parquet')"
        ).fetchall()
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_levenshtein_parity(spark, data):
    """Spark's levenshtein vs DuckDB's over generated string pairs — both
    must implement the same unweighted edit distance."""
    pairs = data.draw(
        st.lists(st.tuples(TEXTS, TEXTS), min_size=25, max_size=25)
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()]
    con = duckdb.connect()
    want = [
        row[0]
        for row in con.execute(
            "SELECT levenshtein(a, b) FROM (SELECT unnest(?) AS a, unnest(?) AS b)",
            [[p[0] for p in pairs], [p[1] for p in pairs]],
        ).fetchall()
    ]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_median_interpolation_parity(spark, data):
    """median over generated doubles: both engines interpolate even-count
    midpoints as (a+b)/2 on identical inputs — the assumption agg_median's
    oracle rests on; the ``percentile`` / ``percentile_sql`` twins agree
    at every quantile the operators use. A fixed DECIMAL(38,2) case shows
    both twins interpolate in the double domain: the first quartile of
    {1.25, 2.50, 2.55} is 1.875, where DuckDB's own DECIMAL interpolation
    would give 1.87."""
    xs = data.draw(st.lists(DOUBLES, min_size=1, max_size=41))
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        percentile,
        percentile_sql,
    )

    qs = (0.1, 0.25, 0.5, 0.9)
    df = _spark_one_col(spark, xs, "x double")
    row = df.agg(
        F.round(F.median("x"), 6).alias("m"),
        *[F.round(percentile("x", q), 6).alias(f"p{i}") for i, q in enumerate(qs)],
    ).collect()[0]
    con = duckdb.connect()
    want = con.execute(
        "SELECT round(median(x), 6), "
        + ", ".join(f"round({percentile_sql('x', q)}, 6)" for q in qs)
        + " FROM (SELECT unnest(?) AS x)",
        [xs],
    ).fetchone()
    assert tuple(row) == want

    decs = ["1.25", "2.50", "2.55"]
    dec_df = spark.createDataFrame([(x,) for x in decs], "s string").selectExpr(
        "CAST(s AS DECIMAL(38,2)) AS x"
    )
    got = dec_df.agg(percentile("x", 0.25).alias("p")).collect()[0].p
    want = con.execute(
        f"SELECT {percentile_sql('x', 0.25)} FROM "
        "(SELECT CAST(unnest(?) AS DECIMAL(38,2)) AS x)",
        [decs],
    ).fetchone()[0]
    assert got == want == 1.875


# 0, NULL, negatives, 1e-7, and values just below and at powers of ten
MANT_EXP_VALUES = [
    0.0, None, -0.0, 1e-7, -1e-7, 0.0999999, 0.1, 0.99999, 1.0, -1.0, 9.99999,
    10.0, 999.99, 1000.0, -1000.0, 123456.789, -2.5e10, 1e15, 9.9999e14,
]


def test_mant_exp_twin_parity(spark):
    """``mant_exp_cols`` and ``mant_exp_sql`` emit the same (mantissa,
    exponent) pair: zero is (0.0, 0), NULL is (NULL, NULL), the sign rides
    the mantissa, and a power of ten has mantissa 1.0."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        mant_exp_cols,
        mant_exp_sql,
    )

    rows = list(enumerate(MANT_EXP_VALUES))
    df = spark.createDataFrame(rows, "i int, x double")
    got = sorted(
        tuple(r) for r in df.select("i", *mant_exp_cols(F.col("x"), "v")).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.connect().execute(
            f"SELECT i, {mant_exp_sql('x', 'v')} FROM (SELECT unnest(?) AS i, "
            "unnest(?::DOUBLE[]) AS x)",
            [[i for i, _ in rows], [x for _, x in rows]],
        ).fetchall()
    )
    assert got == want
    by_value = {MANT_EXP_VALUES[i]: (m, e) for i, m, e in got}
    assert by_value[0.0] == (0.0, 0)
    assert by_value[None] == (None, None)
    assert by_value[1000.0] == (1.0, 3)
    assert by_value[-1e-7] == (-1.0, -7)


def test_decile_twin_parity(spark):
    """``decile_cuts`` / ``decile_bin`` and their SQL twins fit the same
    nine cuts and put every row in the same bin, 0 … 9; every value
    against an empty fit (NULL cuts) falls in bin 0, and a NULL value has
    no bin (NULL) on both engines."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        decile_bin,
        decile_bin_sql,
        decile_cuts,
        decile_cuts_sql,
    )

    rows = list(enumerate(MANT_EXP_VALUES + [float(k) for k in range(-5, 15)]))
    df = spark.createDataFrame(rows, "i int, x double")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(?) AS i, unnest(?::DOUBLE[]) AS x",
        [[i for i, _ in rows], [x for _, x in rows]],
    )
    for fit, fit_sql in ((F.lit(True), "true"), (F.lit(False), "false")):
        cuts = df.where(fit).agg(*decile_cuts("x"))
        got_cuts = tuple(cuts.collect()[0])
        got = sorted(
            tuple(r)
            for r in df.crossJoin(cuts).select("i", decile_bin("x")).collect()
        )
        want_cuts = con.execute(
            f"SELECT {decile_cuts_sql('x')} FROM t WHERE {fit_sql}"
        ).fetchone()
        want = sorted(
            con.execute(
                f"WITH cuts AS (SELECT {decile_cuts_sql('x')} FROM t "
                f"WHERE {fit_sql}) SELECT i, {decile_bin_sql('x')} "
                "FROM t CROSS JOIN cuts"
            ).fetchall()
        )
        assert got_cuts == want_cuts
        assert got == want
        bins = dict(got)
        assert bins.pop(MANT_EXP_VALUES.index(None)) is None
        if fit_sql == "false":
            assert set(bins.values()) == {0}
        else:
            assert set(bins.values()) == set(range(10))


def test_connected_components_vs_union_find(spark):
    """Property check of the reusable min-label-propagation kernel against
    a Python union-find on pseudo-random graphs, including a long path
    (multi-hop propagation well beyond the operator fixture's diameter-2
    chains)."""
    import random

    from ai_dataingestion_spark.ai.dedup import connected_components

    rng = random.Random(20260813)
    cases = []
    for _ in range(3):  # random sparse graphs
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40)
        ]
        cases.append((n, edges))
    cases.append((30, [(i, i + 1) for i in range(29)]))  # one long path

    for n, edges in cases:
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in range(n)}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
        edf = spark.createDataFrame(
            edges or [(0, 0)], "src bigint, dst bigint"
        )
        got = {
            r.node: r.comp
            for r in connected_components(nodes, edf, max_iters=64).collect()
        }
        assert got == want, (n, edges)


UNICODE_TEXTS = st.text(min_size=0, max_size=40)  # full unicode plane


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_portable_hash_parity(spark, data):
    """The md5-derived 60-bit hash every portable-signature operator rests
    on (minhash, simhash, fingerprints, CMS, bloom) must agree between
    Spark's conv(...,16,10) and DuckDB's '0x...' cast for ARBITRARY
    unicode strings — a drift here silently skews every signature."""
    texts = data.draw(st.lists(UNICODE_TEXTS, min_size=20, max_size=20))
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import hash60_expr, hash60_sql

    df = _spark_one_col(spark, texts, "s string")
    got = [r.h for r in df.select(F.expr(hash60_expr("s")).alias("h")).collect()]
    con = duckdb.connect()
    want = [
        row[0]
        for row in con.execute(
            f"SELECT {hash60_sql('s')} FROM (SELECT unnest(?) AS s)", [texts]
        ).fetchall()
    ]
    assert got == want


# integer keys: NULL, 0, negatives, the int64 extremes, 2^53 and its
# neighbours; string keys: NULL, empty, Unicode
HASH_BUCKET_INTS = [None, 0, 1, -1, -7, 2**53 - 1, 2**53, 2**53 + 1,
                    2**63 - 1, -(2**63)]
HASH_BUCKET_STRS = [None, "", "doc", "naïve", "日本語", "🙂 x", "ß"]


@pytest.mark.parametrize("salt", ["", "doc", "ü"])
def test_hash_bucket_twin_parity(spark, salt):
    """``hash_bucket`` and ``hash_bucket_sql`` put every key in the same
    bucket: the first hex digit of ``md5(salt || key text)``, for integer
    and Unicode string keys, with the empty salt too; a NULL key has none."""
    import hashlib

    from ai_dataingestion_spark.functions.portable import (
        hash_bucket,
        hash_bucket_sql,
    )

    con = duckdb.connect()
    for keys, ddl, duck_type in (
        (HASH_BUCKET_INTS, "k bigint", "BIGINT"),
        (HASH_BUCKET_STRS, "k string", "VARCHAR"),
    ):
        df = _spark_one_col(spark, keys, ddl)
        got = [r[0] for r in df.select(hash_bucket("k", salt)).collect()]
        want = [
            r[0]
            for r in con.execute(
                f"SELECT {hash_bucket_sql('k', salt)} "
                f"FROM (SELECT unnest(?::{duck_type}[]) AS k, "
                "generate_subscripts(?::INT[], 1) AS i) ORDER BY i",
                [keys, list(range(len(keys)))],
            ).fetchall()
        ]
        expect = [
            None if k is None
            else hashlib.md5(f"{salt}{k}".encode()).hexdigest()[0]
            for k in keys
        ]
        assert got == want == expect


# (l_orderkey, l_partkey) line items: a part repeated within an order, a
# single-line order, NULL order and part keys, and pairs held by 1, 2 and
# 3 orders
COPURCHASE_LINES = [
    (1, 10), (1, 20), (1, 20), (1, 30),
    (2, 10), (2, 20),
    (3, 50),
    (4, 10), (4, 20), (4, 30),
    (5, None), (5, 10),
    (None, 10), (None, 20),
    (6, 30), (6, 10),
    (7, 40), (7, 50),
]


def test_copurchase_twin_parity(spark):
    """``copurchase_pairs`` and ``copurchase_pairs_sql`` give the same part
    pairs u < v and order counts: a repeated part counts once per order, a
    single-line order and NULL keys pair with nothing, and ``min_orders``
    cuts at n ≥ 1, 2, 3 and 4."""
    from ai_dataingestion_spark.operators.graph import (
        copurchase_pairs,
        copurchase_pairs_sql,
    )

    li = spark.createDataFrame(COPURCHASE_LINES, "l_orderkey bigint, l_partkey bigint")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem AS SELECT unnest(?::BIGINT[]) AS l_orderkey, "
        "unnest(?::BIGINT[]) AS l_partkey",
        [[o for o, _ in COPURCHASE_LINES], [p for _, p in COPURCHASE_LINES]],
    )
    counts = {(10, 20): 3, (10, 30): 3, (20, 30): 2, (40, 50): 1}
    for k in (1, 2, 3, 4):
        got = sorted(tuple(r) for r in copurchase_pairs(li, k).collect())
        want = sorted(
            con.execute(f"SELECT u, v, n FROM {copurchase_pairs_sql(k)}").fetchall()
        )
        assert got == want == sorted((*pair, n) for pair, n in counts.items() if n >= k)
    out = ("part1", "part2", "n_orders")
    assert copurchase_pairs(li, 3, out=out).columns == list(out)
    assert [d[0] for d in con.execute(
        f"SELECT * FROM {copurchase_pairs_sql(3, out=out)}"
    ).description] == list(out)


# (a, b) vector pairs for the vector-math twins: zero, mixed-sign,
# large-magnitude and NULL vectors. Every value is exact in float32.
VECTOR_PAIRS = [
    ([0.0] * 8, [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]),
    ([0.0] * 8, [0.0] * 8),
    ([1.5, -2.25, 0.125, -7.0], [-3.0, 0.5, 2.0, 1.25]),
    ([2.0**60, -(2.0**61), 3.0 * 2.0**59], [2.0**-20, 2.0**62, -(2.0**40)]),
    (None, [1.0, 2.0]),
]


def test_vector_math_twin_parity(spark):
    """``dot_expr`` / ``sq_norm_expr`` / ``cosine_expr`` and their DuckDB
    twins return identical doubles (left-to-right sums on both engines);
    a zero-norm vector's cosine is NULL on both; ``unit_rows`` agrees with
    the SQL cosine and gives a zero row NaN where the engines give NULL."""
    import numpy as np
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        cosine_expr, cosine_sql, dot_expr, dot_sql, sq_norm_expr, sq_norm_sql,
        unit_rows,
    )

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(VECTOR_PAIRS)],
        "i int, a array<float>, b array<float>",
    )
    got = [
        tuple(r)
        for r in df.select(
            "i",
            F.expr(dot_expr("a", "b")),
            F.expr(sq_norm_expr("a")),
            F.expr(cosine_expr("a", "b")),
        ).orderBy("i").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE v (i INT, a FLOAT[], b FLOAT[])")
    con.executemany(
        "INSERT INTO v VALUES (?, ?, ?)",
        [(i, a, b) for i, (a, b) in enumerate(VECTOR_PAIRS)],
    )
    want = [
        tuple(r)
        for r in con.execute(
            f"SELECT i, {dot_sql('a', 'b')}, {sq_norm_sql('a')}, "
            f"{cosine_sql('a', 'b')} FROM v ORDER BY i"
        ).fetchall()
    ]
    assert got == want
    assert got[0][3] is None and got[1][3] is None  # zero norm: no cosine

    a, b = VECTOR_PAIRS[2]
    u = unit_rows(np.array([a, [0.0] * len(a)], dtype="float64"))
    assert np.isnan(u[1]).all()
    assert np.isclose(u[0] @ unit_rows(np.array([b], dtype="float64"))[0], want[2][3])


def test_dims_twin_parity(spark):
    """``dims`` and ``dims_sql`` explode a vector into the same 0-based
    (pos, x) rows; NULL and empty vectors yield none on both engines."""
    from ai_dataingestion_spark.functions.portable import dims, dims_sql

    vecs = [[0.0, -1.5, 2.0**60], [], None, [3.25]]
    df = spark.createDataFrame(list(enumerate(vecs)), "i int, v array<float>")
    got = sorted(tuple(r) for r in df.select("i", dims("v")).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, v FLOAT[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vecs)))
    want = sorted(
        tuple(r) for r in con.execute(f"SELECT i, {dims_sql('v')} FROM t").fetchall()
    )
    assert got == want
    assert (0, 2, 2.0**60) in got


# (group, key, text, 2-dp price, timestamp text) rows for the fingerprint
# twins: NULL in each field, negative and sub-unit prices, the 2-dp grid's
# edges and trailing zeros, a price past 2^53 cents, non-ASCII text, the
# '|' separator inside a field, and timestamps at and around midnight.
FINGERPRINT_ROWS = [
    (0, 1, "F", 0.01, "2024-01-15 00:00:00"),
    (0, -7, "ünïcödé ✓ 字", -0.01, "2024-01-14 23:59:59.999999"),
    (0, 2**40, "a|b", 123456789.99, "1992-01-01 00:00:00"),
    (0, 3, "", -42.5, "2024-02-29 12:00:00"),
    (1, 4, "O", 0.1, "1998-12-31 23:59:59"),
    (1, 5, "P", 0.0, "2024-01-15 00:00:00.000001"),
    (1, 6, None, 9.99, "2000-01-01 00:00:00"),
    (1, None, "F", -1234.56, "1970-01-01 00:00:00"),
    (2, 8, "F", None, "2010-06-30 00:00:00"),
    (2, 9, "F", 99999999999999.98, None),
    (3, None, None, None, None),
]


def test_content_fingerprint_twin_parity(spark):
    """``canon_row`` is one SQL text for both engines: it renders every
    row to the same string (NULL when any field is NULL), and
    ``content_fingerprint`` / ``content_fingerprint_sql`` agree per group,
    an all-NULL group included (NULL on both)."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        canon_row,
        content_fingerprint,
        content_fingerprint_sql,
    )

    canon = canon_row(
        ("k", "STRING"), "s", ("p", "DECIMAL(38,2)"), ("ts", "DATE"),
        ("ts", "STRING"),
    )
    rows = [(i, *r) for i, r in enumerate(FINGERPRINT_ROWS)]
    df = spark.createDataFrame(
        rows, "i int, g int, k bigint, s string, p double, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    got_rows = sorted(
        tuple(r) for r in df.select("i", F.expr(canon)).collect()
    )
    got_fp = sorted(
        tuple(r)
        for r in df.groupBy("g").agg(content_fingerprint(canon).alias("fp")).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT i, g, k, s, p, CAST(ts_s AS TIMESTAMP) AS ts "
        "FROM (SELECT unnest(?) AS i, unnest(?) AS g, unnest(?) AS k, "
        "unnest(?) AS s, unnest(?::DOUBLE[]) AS p, unnest(?) AS ts_s)",
        [list(c) for c in zip(*rows)],
    )
    want_rows = sorted(
        tuple(r) for r in con.execute(f"SELECT i, {canon} FROM t").fetchall()
    )
    want_fp = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT g, {content_fingerprint_sql(canon)} FROM t GROUP BY g"
        ).fetchall()
    )
    assert got_rows == want_rows
    assert got_fp == want_fp
    assert (4, "4|O|0.10|1998-12-31|1998-12-31 23:59:59") in got_rows
    assert dict(got_fp)[3] is None


def test_pre_period_twin_parity(spark):
    """``pre_period`` and ``PRE_PERIOD_SQL`` split the same timestamps:
    before ``CUTOVER_DATE`` is pre, the cutover instant itself and
    everything after is not, and a NULL ts is NULL on both engines."""
    from pyspark.sql import functions as F

    from ai_dataingestion_spark.functions.portable import (
        CUTOVER_DATE,
        PRE_PERIOD_SQL,
        pre_period,
    )

    stamps = [
        f"{CUTOVER_DATE} 00:00:00",
        f"{CUTOVER_DATE} 00:00:00.000001",
        "2024-01-14 23:59:59.999999",
        "2024-01-01 00:00:00",
        "2024-01-31 23:59:59",
        "1970-01-01 00:00:00",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(stamps)), "i int, ts_s string")
    got = sorted(
        tuple(r)
        for r in df.select(
            "i", F.col("ts_s").cast("timestamp").alias("ts")
        ).select("i", pre_period().alias("pre")).collect()
    )
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT i, {PRE_PERIOD_SQL} FROM (SELECT i, "
            "CAST(ts_s AS TIMESTAMP) AS ts FROM (SELECT unnest(?) AS i, "
            "unnest(?) AS ts_s))",
            [list(range(len(stamps))), stamps],
        ).fetchall()
    )
    assert got == want
    assert [p for _, p in got] == [False, False, True, True, False, True, None]


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_carter_wegman_transform_parity(spark, data):
    """The affine minhash transforms (a*h + b) % (2^31-1) must be
    overflow-identical in both engines across the full base-hash range."""
    P = (1 << 31) - 1
    hs = data.draw(
        st.lists(st.integers(min_value=0, max_value=P - 1),
                 min_size=20, max_size=20)
    )
    a, b = 2654435761 % P, 104729
    from pyspark.sql import functions as F

    df = _spark_one_col(spark, hs, "h bigint")
    got = [
        r.v
        for r in df.select(
            ((F.lit(a) * F.col("h") + F.lit(b)) % P).alias("v")
        ).collect()
    ]
    con = duckdb.connect()
    # CAST to BIGINT as the real oracle does (its base hash is already a
    # BIGINT expression) — raw unnest infers INT32 and overflows.
    want = [
        row[0]
        for row in con.execute(
            f"SELECT ({a} * CAST(h AS BIGINT) + {b}) % {P} "
            "FROM (SELECT unnest(?) AS h)",
            [hs],
        ).fetchall()
    ]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_portable_floor_rounding_parity(spark, data):
    """The portable rounding formula floor(x·1e6 + 0.5)/1e6 must agree
    bit-for-bit between Spark and DuckDB — including on exact decimal
    ties where built-in round() provably DIVERGES (sf0.1 regression:
    8290.71/32 = 259.0846875 → Spark round HALF_UP …688, DuckDB binary
    …687). Quotients of small exact decimals are the hot class, so
    generate exactly those."""
    nums = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=10**7),  # cents numerator
                st.integers(min_value=1, max_value=64),     # small denominator
            ),
            min_size=1,
            max_size=50,
        )
    )
    quotients = [n / 100 / d for n, d in nums] + [8290.71 / 32]
    sdf = _spark_one_col(spark, quotients, "x double").selectExpr(
        "floor(x * 1000000 + 0.5) / 1000000 AS r"
    )
    got = [r["r"] for r in sdf.collect()]
    want = [
        r[0]
        for r in duckdb.sql(
            "SELECT floor(x * 1000000 + 0.5) / 1000000 FROM (SELECT "
            "unnest(?) AS x)",
            params=[quotients],
        ).fetchall()
    ]
    assert got == want
