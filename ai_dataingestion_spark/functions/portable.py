"""Portable cross-engine numeric emission helpers.

The driver hash-compares Spark output against a DuckDB oracle, so any
emitted float must round identically on both engines. Two layers exist:

- ``pround`` below, ``floor(x * 10^dp + 0.5) / 10^dp`` — ABSOLUTE decimal
  rounding, right for values whose magnitude is bounded
  by the domain (ratios, probabilities, per-row prices).
- ``mant_exp_cols`` / ``mant_exp_sql`` below — RELATIVE (significant-digit)
  emission as a (mantissa, power-of-ten exponent) column pair, required for
  values whose magnitude GROWS with the corpus (revenue sums, variances of
  sums): at
  sfx1.0 a ~2e10 variance carries legitimate ~1e-5 absolute cross-engine
  noise from int128->double decimal casts, so 6 absolute decimals asserts
  precision the double format does not hold at that magnitude. Measured at
  the round-8 full-surface sfx1.0 sweep (agg_partial_merge_proof,
  orders_seasonal_decomposition_additive).

Exact zero is emitted as (0.0, 0): log10(0) is NULL in Spark but -inf
(then a cast error) in DuckDB — a deterministic divergence without the
guard. Known residual: a value within ~1 ulp of an exact power of ten can
flip floor(log10) between engines, shifting the pair by a decade; inputs
are data-fixed so this is a per-corpus constant, not a flake, and the
probability per emitted value is ~1e-15.

A continuous percentile has one spelling per engine, ``percentile`` /
``percentile_sql``, interpolated in the DOUBLE domain on both; the
equi-depth bins ``decile_cuts`` / ``decile_bin`` are built on it.

Vector geometry has one spelling per engine, in the finite-domain section
below: a vector kernel sees only vectors that pass ``finite_vec`` /
``VEC_FINITE_SQL``, and a zero-norm vector has no direction, so its cosine
and its unit components are NULL on every engine (``cosine_expr`` /
``cosine_sql``, ``unit_rows``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def mant_exp_cols(col: Column, name: str) -> list[Column]:
    """``[<name>_mant, <name>_exp10]`` — value as a 6-decimal mantissa
    in [1, 10) (sign carried by the mantissa) plus an int power-of-ten
    exponent; a NULL value gives NULL in both. Oracle twin:
    ``mant_exp_sql``."""
    mag = F.floor(F.log10(F.abs(col)))
    return [
        F.when(col == 0, F.lit(0.0))
        .otherwise(F.round(col / F.pow(F.lit(10.0), mag), 6))
        .alias(f"{name}_mant"),
        F.when(col == 0, F.lit(0))
        .otherwise(mag.cast("int"))
        .alias(f"{name}_exp10"),
    ]


def mant_exp_sql(expr: str, name: str) -> str:
    """DuckDB twin of ``mant_exp_cols`` over SQL expression ``expr``: the
    two select items ``<name>_mant, <name>_exp10``."""
    mag = f"floor(log10(abs({expr})))"
    return (
        f"CASE WHEN {expr} = 0 THEN 0.0 "
        f"ELSE round({expr} / pow(10, {mag}), 6) END AS {name}_mant, "
        f"CAST(CASE WHEN {expr} = 0 THEN 0 ELSE {mag} END AS INT) "
        f"AS {name}_exp10"
    )


def pround(col: Column, dp: int = 6) -> Column:
    """Portable IEEE rounding floor(x*10^dp + 0.5)/10^dp — bit-identical
    on both engines (built-in round() diverges on exact decimal ties;
    see tpch_q2_min_cost_supplier)."""
    scale = 10**dp
    return F.floor(col * scale + 0.5) / scale


def dec_sum(col: Column) -> Column:
    """Engine-exact money-product sum: DECIMAL(38,6) accumulation (summation
    order can flip a rounded 2-dp digit in plain double — measured).

    Returns the DECIMAL sum: callers round in the decimal domain (HALF_UP
    in both engines, verified at exact .xx5 boundaries) and only THEN cast
    to double — rounding after the double cast diverges between engines
    when the exact sum lands on a half-cent boundary (measured:
    lineitem_abc_pareto at sf0.01, two parts off by a cent each)."""
    return F.sum(col.cast("decimal(38,6)"))


def dec_sum_sql(expr: str) -> str:
    """DuckDB twin of ``dec_sum`` over SQL expression ``expr``."""
    return f"sum(CAST({expr} AS DECIMAL(38,6)))"


def money_sum(col: Column) -> Column:
    """A money total as a double: ``dec_sum``, one HALF_UP round to 2 dp in
    the decimal domain, then the cast. Oracle twin: ``money_sum_sql``.

    Known residual: a double reaches DECIMAL(38,6) through its shortest
    decimal string in Spark but through its exact binary value in DuckDB,
    so a term whose shortest string sits halfway between two 6-dp values
    can cast one unit apart: ``CAST(1234567.0000005 AS DECIMAL(38,6))`` is
    .000001 in Spark and .000000 in DuckDB. Over 200,000 corpus-shaped
    terms (2-dp price times one minus a 2-dp discount) no cast differed,
    before or after the 2-dp round."""
    return F.round(dec_sum(col), 2).cast("double")


def money_sum_sql(expr: str) -> str:
    """DuckDB twin of ``money_sum`` over SQL expression ``expr``."""
    return f"CAST(round({dec_sum_sql(expr)}, 2) AS DOUBLE)"


def percentile(col: Column | str, q: float) -> Column:
    """Continuous percentile ``q`` of ``col``, interpolated between the two
    nearest ranks in the DOUBLE domain; NULLs are skipped and no rows give
    NULL. Oracle twin: ``percentile_sql``."""
    return F.percentile(col, q)


def percentile_sql(expr: str, q: float) -> str:
    """DuckDB twin of ``percentile``. The DOUBLE cast comes first because
    DuckDB interpolates a DECIMAL input in its own type: over DECIMAL(38,2)
    {1.25, 2.50, 2.55} at q = 0.25 it returns 1.87 where Spark returns
    1.875."""
    return f"quantile_cont(CAST({expr} AS DOUBLE), {q})"


def decile_cuts(col: str) -> list[Column]:
    """The 9 decile cuts of ``col`` (``percentile`` at 0.1 … 0.9) as the
    aggregate columns ``q1`` … ``q9``. Oracle twin: ``decile_cuts_sql``."""
    return [percentile(col, q / 10).alias(f"q{q}") for q in range(1, 10)]


def decile_cuts_sql(expr: str) -> str:
    """DuckDB twin of ``decile_cuts``: the 9 select items ``q1`` … ``q9``."""
    return ", ".join(f"{percentile_sql(expr, q / 10)} AS q{q}" for q in range(1, 10))


def decile_bin(col: str) -> Column:
    """A value's decile bin, 0 … 9: the number of cuts ``q1`` … ``q9``
    (``decile_cuts``, joined beside it) that ``col`` exceeds. Against NULL
    cuts (an empty fit) every value falls in bin 0; a NULL value has no bin
    (NULL), so it is counted apart from the lowest decile. An int; oracle
    twin: ``decile_bin_sql``."""
    bins = sum(
        F.when(F.col(col) > F.col(f"q{q}"), 1).otherwise(0) for q in range(1, 10)
    )
    return F.when(F.col(col).isNotNull(), bins)


def decile_bin_sql(expr: str) -> str:
    """DuckDB twin of ``decile_bin`` over SQL expression ``expr``."""
    bins = " + ".join(
        f"(CASE WHEN {expr} > q{q} THEN 1 ELSE 0 END)" for q in range(1, 10)
    )
    return f"(CASE WHEN {expr} IS NOT NULL THEN {bins} END)"


NET_PRICE_SQL = "(l_extendedprice * (1 - l_discount))"


def net_price() -> Column:
    """A line item's extended price less its discount, the revenue measure
    of the relational operators. Oracle twin: ``NET_PRICE_SQL``; its
    ``l_*`` names are unique across the schema, so it needs no table
    alias inside a join."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def tokens(col: Column | str = "text") -> Column:
    """A document's tokens: ``col`` split on single spaces. Leading,
    trailing and doubled spaces yield empty tokens, which are kept; NULL
    text gives NULL tokens. Oracle twin: ``tokens_sql``."""
    return F.split(col, " ")


def tokens_sql(expr: str = "text") -> str:
    """DuckDB twin of ``tokens`` over SQL expression ``expr``."""
    return f"string_split({expr}, ' ')"


def hash60_expr(s: str) -> str:
    """Engine-portable 60-bit hash of the Spark SQL string expression ``s``:
    the first 15 hex digits of its md5, read as a BIGINT. md5 is
    bit-identical across the engines (unicode included), so signatures
    built on it are oracle-checkable. Oracle twin: ``hash60_sql``."""
    return f"CAST(conv(substring(md5({s}),1,15),16,10) AS BIGINT)"


def hash60_sql(s: str) -> str:
    """DuckDB twin of ``hash60_expr`` over SQL string expression ``s``."""
    return f"CAST('0x'||substring(md5({s}),1,15) AS BIGINT)"


def hash_bucket(key: str, salt: str = "") -> Column:
    """The salted hash bucket of column ``key``: the first hex digit of
    ``md5(salt || CAST(key AS STRING))``, a one-character string ``'0'`` …
    ``'f'``. Seedless, so a row's bucket is the same under re-runs,
    repartitioning and either engine, and a different salt gives an
    independent assignment; a NULL key has no bucket (NULL). Only keys whose
    text is engine-identical belong here (integers, strings). Oracle twin:
    ``hash_bucket_sql``."""
    text = F.col(key).cast("string")
    if salt:
        text = F.concat(F.lit(salt), text)
    return F.substring(F.md5(text), 1, 1)


def hash_bucket_sql(expr: str, salt: str = "") -> str:
    """DuckDB twin of ``hash_bucket`` over SQL expression ``expr``."""
    text = f"CAST({expr} AS VARCHAR)"
    if salt:
        text = f"{sql_quote(salt)} || {text}"
    return f"substring(md5({text}), 1, 1)"


def sql_quote(s: str) -> str:
    """``s`` as a single-quoted SQL string literal, read identically by
    Spark SQL and DuckDB."""
    return "'" + s.replace("'", "''") + "'"


def canon_row(*fields: str | tuple[str, str]) -> str:
    """A row's text, one SQL spelling for both engines: the fields joined by
    ``'|'``, a NULL field nulling the whole. A field is a string column or
    ``(expr, type)``: ``expr`` cast to ``type``, then to STRING. Only types
    with engine-identical text belong here (integers, DATE, DECIMAL(38,2)
    of a double on the cent grid: Spark rounds 1234567.125 to .13, DuckDB
    to .12); a raw double prints differently."""

    def text(field: str | tuple[str, str]) -> str:
        if isinstance(field, str):
            return field
        expr, typ = field
        inner = expr if typ == "STRING" else f"CAST({expr} AS {typ})"
        return f"CAST({inner} AS STRING)"

    return " || '|' || ".join(text(f) for f in fields)


def content_fingerprint(canon: str) -> Column:
    """Order-independent content fingerprint, as text: the DECIMAL(38,0)
    sum (partial-aggregable, duplicate-sensitive, no BIGINT overflow) of
    every row's ``hash60_expr`` of ``canon`` (a ``canon_row`` text). A NULL
    text adds nothing; no rows give NULL. Oracle twin:
    ``content_fingerprint_sql``."""
    h = F.expr(hash60_expr(f"({canon})")).cast("decimal(38,0)")
    return F.sum(h).cast("string")


def content_fingerprint_sql(canon: str) -> str:
    """DuckDB twin of ``content_fingerprint``."""
    return f"CAST(sum(CAST({hash60_sql(f'({canon})')} AS DECIMAL(38,0))) AS VARCHAR)"


# The events corpus spans one month; its midpoint splits it into the pre
# and post periods of the drift and A/B-test operators.
CUTOVER_DATE = "2024-01-15"


def pre_period() -> Column:
    """True for an event before ``CUTOVER_DATE``, False from it on, NULL
    for a NULL ``ts``. Oracle twin: ``PRE_PERIOD_SQL``."""
    return F.col("ts") < F.lit(CUTOVER_DATE).cast("timestamp")


PRE_PERIOD_SQL = f"ts < TIMESTAMP '{CUTOVER_DATE}'"


# ---------------------------------------------------------------------------
# Finite-domain contracts (round-9 NaN/Inf tier).
#
# Metric streams and embedding corpora grow NaN/±Inf in production
# (divide-by-zero rates, fp16 training overflow); the engines diverge HARD
# on them: DuckDB's stddev/var/corr kernels raise Out of Range on any
# non-finite input and CAST(nan AS <int|decimal>) is a conversion error,
# while Spark propagates NaN; percentile kernels disagree on NaN placement.
# Statistical operators therefore compute over the FINITE domain on both
# sides — stated with these twins so the gate is literally identical.
# ---------------------------------------------------------------------------

_INF = float("inf")


def finite(col: Column | str) -> Column:
    """NULL-safe finite-domain predicate for a double column: keeps NULL
    (both engines' aggregates skip nulls identically) and finite values,
    drops NaN/±Inf. Oracle twin: ``FINITE_SQL``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(_INF)))


FINITE_SQL = "({v} IS NULL OR isfinite({v}))"


def finite_vec(col: Column | str = "embedding") -> Column:
    """Vector-kernel quarantine: drop NULL vectors (no geometry — the
    null-tier contract) and vectors carrying any NULL or non-finite
    component (one NaN poisons every dot product, norm, and centroid it
    touches; ±Inf turns quantization casts into runtime errors; a NULL
    component makes the vector's geometry undefined). The NULL-component
    test is EXPLICIT, not left to 3-valued logic: Spark's ``exists`` over a
    NULL-predicate element yields NULL (row dropped by the filter) while
    DuckDB's ``list_filter`` silently discards NULL-predicate elements
    (row kept) — stating ``x IS NULL`` on both sides makes the twins
    literally equivalent (ADVICE r9). Oracle twin: ``VEC_FINITE_SQL``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & ~F.exists(
        c, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(_INF))
    )


VEC_FINITE_SQL = (
    "({v} IS NOT NULL AND "
    "len(list_filter({v}, x -> x IS NULL OR NOT isfinite(x))) = 0)"
)


def dims(col: str = "embedding") -> Column:
    """A vector's components as rows: ``(pos, x)`` with the 0-based
    position, one row per component (a NULL vector yields none). Oracle
    twin: ``dims_sql``."""
    return F.posexplode(col).alias("pos", "x")


def dims_sql(v: str = "embedding") -> str:
    """DuckDB twin of ``dims``: the two select items ``pos, x``."""
    return f"generate_subscripts({v}, 1) - 1 AS pos, unnest({v}) AS x"


# Dot product, squared norm and cosine, widened to DOUBLE before any
# multiply and reduced left to right (Spark ``aggregate`` ≙ DuckDB
# ``list_sum``), so both engines return bit-identical doubles. The Spark
# builders return SQL text for one ``F.expr``; the ``*_sql`` twins are
# DuckDB. A zero-norm vector has no direction: its cosine is NULL on both
# engines (``try_divide`` here, DuckDB's NULL for ``x / 0.0`` there). The
# vectors must be non-empty and of equal length (the corpus's one
# dimension): an empty sum is 0.0 here and NULL in DuckDB, and past the
# shorter vector Spark's ``zip_with`` pads NULL and nulls the sum, while
# ``list_sum`` skips DuckDB's NULL products.


def dot_expr(a: str, b: str) -> str:
    """Σ a_i · b_i over array expressions ``a`` and ``b``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin of ``dot_expr``."""
    return (
        f"list_sum(list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * "
        f"CAST({b}[i] AS DOUBLE)))"
    )


def sq_norm_expr(v: str) -> str:
    """Σ v_i² over array expression ``v``."""
    return (
        f"aggregate({v}, 0.0D, "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )


def sq_norm_sql(v: str) -> str:
    """DuckDB twin of ``sq_norm_expr``."""
    return f"list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def cosine_expr(a: str, b: str) -> str:
    """Cosine of array expressions ``a`` and ``b``; NULL when either has
    zero norm."""
    return (
        f"try_divide({dot_expr(a, b)}, "
        f"sqrt({sq_norm_expr(a)}) * sqrt({sq_norm_expr(b)}))"
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of ``cosine_expr``."""
    return (
        f"({dot_sql(a, b)} / (sqrt({sq_norm_sql(a)}) * sqrt({sq_norm_sql(b)})))"
    )


def unit_rows(m):
    """numpy twin of the zero-norm rule: the rows of the float64 matrix
    ``m`` scaled to unit L2 norm, with a zero-norm row all NaN (which
    crosses Arrow back as NULL). A NaN cosine is then no neighbour:
    ``C >= t`` is False for it."""
    import numpy as np

    norm = np.sqrt((m * m).sum(axis=1, keepdims=True))
    with np.errstate(invalid="ignore"):
        return m / np.where(norm == 0, np.nan, norm)


def component_complete(col: Column | str = "embedding") -> Column:
    """NULL-COMPONENT quarantine for operators that deliberately stay
    UNGATED on NaN/Inf (pure-propagation contracts — NaN propagates
    bit-identically through both engines' arithmetic): a NULL component
    does NOT propagate identically. Spark's higher-order aggregate makes
    the whole reduction NULL (acc + NULL = NULL) while DuckDB's list_sum
    SKIPS NULL elements like SQL SUM — so ``[1.0, NULL, 2.0]`` yields NULL
    here and 3.0 there (nan-tier NULL-component injection, round 10).
    Whole-NULL vectors are KEPT: both engines propagate those to NULL
    outputs identically. Oracle twin: ``COMPONENT_COMPLETE_SQL``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | ~F.exists(c, lambda x: x.isNull())


COMPONENT_COMPLETE_SQL = (
    "({v} IS NULL OR len(list_filter({v}, x -> x IS NULL)) = 0)"
)


def stable_rounded_sum(col: Column | str, dp: int = 4) -> Column:
    """Order-independent ``round(sum(x), dp)`` aggregate (round-14 ties
    catch, streaming/batch_windows.py:stream_session): summing doubles and
    rounding puts the dp-th decimal on a half-ulp boundary that the
    partial-aggregation ORDER can flip across draws. Finite groups
    therefore sum through DECIMAL(38,6) — exact, order-independent, and
    tie-free at the cast (no double sits exactly midway on the 1e-6 grid)
    — while groups containing NaN/±Inf keep the raw double sum (non-finite
    propagation is already order-independent, and DuckDB RAISES on casting
    a non-finite to decimal). Oracle twin: ``stable_rounded_sum_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    nonfinite = c.isNotNull() & (F.isnan(c) | (F.abs(c) == F.lit(_INF)))
    return F.when(
        F.max(F.when(nonfinite, 1).otherwise(0)) == 1,
        F.round(F.sum(c), dp),
    ).otherwise(
        F.round(
            F.sum(F.when(~nonfinite, c).cast("decimal(38,6)")), dp
        ).cast("double")
    )


def stable_sum(col: Column | str) -> Column:
    """Order-independent ``sum(x)`` as a double, for COMPOSITE emissions
    (ratios, scaled sums) where the rounding applies after further
    arithmetic: the same DECIMAL(38,6) accumulation as
    ``stable_rounded_sum`` (finite groups sum exactly; groups containing
    NaN/±Inf keep the raw double sum so non-finite propagation survives),
    but without the final round — the caller composes and rounds. Because
    the decimal sum casts back to the IDENTICAL double on both engines,
    any downstream IEEE arithmetic (division, 0.5·x, exp) is then
    bit-deterministic cross-engine too. Oracle twin: ``stable_sum_sql``.
    Note the 1e-6 per-value quantization this implies: document it at the
    call site when the summed terms are sub-unit magnitudes."""
    c = F.col(col) if isinstance(col, str) else col
    nonfinite = c.isNotNull() & (F.isnan(c) | (F.abs(c) == F.lit(_INF)))
    return F.when(
        F.max(F.when(nonfinite, 1).otherwise(0)) == 1,
        F.sum(c),
    ).otherwise(
        F.sum(F.when(~nonfinite, c).cast("decimal(38,6)")).cast("double")
    )


def stable_sum_sql(expr: str) -> str:
    """DuckDB twin of ``stable_sum`` (branch-for-branch; see
    ``stable_rounded_sum_sql`` for why the decimal cast sits inside a lazy
    CASE rather than a FILTER clause)."""
    return (
        f"CASE WHEN max(CASE WHEN {expr} IS NOT NULL AND NOT isfinite({expr}) "
        f"THEN 1 ELSE 0 END) = 1 THEN sum({expr}) "
        f"ELSE CAST(sum(CASE WHEN isfinite({expr}) "
        f"THEN CAST({expr} AS DECIMAL(38,6)) END) AS DOUBLE) END"
    )


def grid_sum(col: Column | str, dp: int = 6) -> Column:
    """Exact fixed-point sum on the 10^-dp grid, for term sums EMITTED AT
    THE SAME precision as the per-term quantization (the round-15 null-tier
    catch, orders_priority_mix_shift): ``stable_sum``'s DECIMAL(38,6) cast
    puts each term's half-point on the engines' CAST-ROUNDING semantics —
    Spark expands the double exactly and rounds HALF_UP (BigDecimal), the
    oracle engine multiplies in double first where an exact tie
    half-even-rounds the other way — so a ratio-valued term landing on the
    5·10^-(dp+1) midpoint shifts a dp-decimal emission by one grid step
    between engines. This helper quantizes with PURE IEEE arithmetic
    instead: ``floor(x·10^dp + 0.5)`` is the same double op sequence on
    both engines (bit-identical bigint per term), the BIGINT sum is exact
    and order-independent, and the final /10^dp division is one more
    identical IEEE op — the whole emission is bit-deterministic with NO
    cast semantics on trial. Callers emit the result WITHOUT a further
    round (there is no noise left to round away). Terms must be finite or
    NULL (NULL sums away identically; a NaN/Inf term would ANSI-crash the
    bigint cast — by design, these sites guarantee finiteness upstream)
    and |x|·10^dp must stay below 2^53. Oracle twin: ``grid_sum_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    unit = F.lit(float(10 ** dp))
    return (
        F.sum(F.floor(c * unit + F.lit(0.5)).cast("bigint"))
        .cast("double") / unit
    )


def grid_sum_sql(expr: str, dp: int = 6) -> str:
    """DuckDB twin of ``grid_sum`` (op-for-op: double multiply, +0.5,
    floor, bigint cast, exact integer sum, double divide)."""
    unit = float(10 ** dp)
    return (
        f"(CAST(sum(CAST(floor(({expr}) * {unit} + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / {unit})"
    )


def stable_rounded_sum_sql(expr: str, dp: int = 4) -> str:
    """DuckDB twin of ``stable_rounded_sum`` over SQL expression ``expr``
    (branch-for-branch; the inner CASE keeps the decimal cast lazy —
    DuckDB raises on CAST(nan AS DECIMAL) even under a FILTER clause,
    whose input expressions are evaluated vector-wide)."""
    return (
        f"CASE WHEN max(CASE WHEN {expr} IS NOT NULL AND NOT isfinite({expr}) "
        f"THEN 1 ELSE 0 END) = 1 THEN round(sum({expr}), {dp}) "
        f"ELSE CAST(round(sum(CASE WHEN isfinite({expr}) "
        f"THEN CAST({expr} AS DECIMAL(38,6)) END), {dp}) AS DOUBLE) END"
    )
