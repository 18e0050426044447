"""§2.H Scalar function families: every ``fn_*`` operator whose family has
no module of its own (CSV, XML, maps, regex, collation, VARIANT,
generators and ingest hygiene do), plus ``events_time_of_day_rollup``,
which shares the TIME-type helpers.

All JVM-side built-ins (pyspark.sql.functions), i.e. inside whole-stage
codegen; nothing here crosses into Python at execution time (the global row
index collects only its per-partition row counts). Cross-engine dialect
notes are measured against DuckDB 1.0.0 (probe in SURVEY.md §2.H):

- `%` sign follows the dividend in both engines (Java/C semantics) — safe.
- DuckDB ceil/floor on DOUBLE return DOUBLE-ish decimals, Spark returns LONG
  → both sides cast to BIGINT explicitly.
- regexp_extract returns '' on no-match in both engines.
- No initcap in DuckDB; skipped from the parity surface.
- Transcendentals (ln/log10) are libm-dependent → rounded to 6 dp both sides.
- A Spark spelling DuckDB lacks is pinned against its definition:
  zeroifnull ≡ coalesce(x, 0), nullifzero ≡ nullif(x, 0), nvl2 ≡ CASE WHEN
  x IS NOT NULL, ifnull ≡ coalesce, elt ≡ 1-based list indexing,
  equal_null ≡ IS NOT DISTINCT FROM, getbit ≡ shift-and-mask, and AES ≡
  the roundtrip identity plus PKCS#5 length arithmetic.
- listagg(… ) WITHIN GROUP (ORDER BY …) ≡ string_agg(… ORDER BY …): both
  skip NULL elements and order by binary collation; the ORDER BY carries a
  unique key as tie-break.
- dayname / monthname are 3-letter English abbreviations ≡ strftime '%a'
  / '%b'.
- mask() inputs are ASCII-sanitized identically on both sides first: Java's
  isUpperCase and RE2's \\p{Lu} disagree on exotic categories (titlecase).

The TIME type (Spark 4.1, behind ``spark.sql.timeType.enabled``, set by
``_enable_time_type``): a precision cast ``time(p)`` TRUNCATES the
fraction (.987654 → time(2) → .98). DuckDB's TIME renders to VARCHAR with
trailing fraction zeros trimmed exactly like Spark's string cast
('14:05:09.1', '14:05:09'), so string emissions agree; every arithmetic
emission uses whole-unit-truncated times, so differences are exact integer
math on both sides. A timestamp reaches TIME by format→parse on Spark
(``_TOD``; the direct cast is unsupported in 4.1) and by a native cast on
DuckDB (``_TOD_SQL``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import MapType, StringType

from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    dims_sql,
    pround,
    stable_rounded_sum,
    stable_rounded_sum_sql,
    tokens,
    tokens_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables


# Codepoints where Java's FULL case mapping (Spark upper/lower) diverges
# from utf8proc's simple mapping (DuckDB): the unconditional multi-char
# entries of Unicode SpecialCasing.txt (ADVICE r8 — the old [ßẞİı] guard
# missed the Latin/Armenian ligatures, ŉ, ǰ, և, the combining-mark Latins,
# and the Greek iota-subscript/breathing composites) plus the dotted/dotless
# I pair, whose SIMPLE mappings already disagree between the two libraries.
# \x{...} escapes parse identically in Java regex (Spark rlike) and RE2
# (DuckDB regexp_matches). Rows containing any of these yield NULL on BOTH
# sides — the case-stable-domain contract.
CASE_UNSTABLE_CLASS = (
    "[\\x{00DF}\\x{0130}\\x{0131}\\x{0149}\\x{01F0}\\x{0390}\\x{03B0}"
    "\\x{0587}\\x{1E96}-\\x{1E9A}\\x{1E9E}\\x{1F50}\\x{1F52}\\x{1F54}"
    "\\x{1F56}\\x{1F80}-\\x{1FAF}\\x{1FB2}-\\x{1FB4}\\x{1FB6}\\x{1FB7}"
    "\\x{1FBC}\\x{1FC2}-\\x{1FC4}\\x{1FC6}\\x{1FC7}\\x{1FCC}\\x{1FD2}"
    "\\x{1FD3}\\x{1FD6}\\x{1FD7}\\x{1FE2}-\\x{1FE4}\\x{1FE6}\\x{1FE7}"
    "\\x{1FF2}-\\x{1FF4}\\x{1FF6}\\x{1FF7}\\x{1FFC}"
    "\\x{FB00}-\\x{FB06}\\x{FB13}-\\x{FB17}]"
)


@register(
    "fn_string",
    oracle=f"""
SELECT c_custkey,
       -- case-stable domain only: Java FULL case mapping uppercases
       -- sharp-s to SS, ligatures to FF/FI/FL/ST, Greek iota subscripts
       -- to multi-char sequences; utf8proc maps 1:1. Outside the domain
       -- the column is NULL on both sides (CASE_UNSTABLE_CLASS above).
       CASE WHEN NOT regexp_matches(c_name, '{CASE_UNSTABLE_CLASS}')
            THEN upper(c_name) END         AS name_upper,
       lower(c_mktsegment)                 AS seg_lower,
       length(c_name)                      AS name_len,
       substring(c_name, 1, 8)             AS name_prefix,
       concat_ws('-', c_mktsegment, c_name) AS seg_name,
       replace(c_name, '#', '_')           AS name_repl,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_pad,
       reverse(c_mktsegment)               AS seg_rev,
       trim('  ' || c_name || ' ')         AS name_trim
FROM customer
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery over customer names."""
    c = Tables(spark, sf_dir).customer
    return c.select(
        "c_custkey",
        F.when(
            ~F.col("c_name").rlike(CASE_UNSTABLE_CLASS),
            F.upper("c_name"),
        ).alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("_")).alias("name_repl"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_pad"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("name_trim"),
    )


@register(
    "fn_regex",
    oracle="""
SELECT p_partkey,
       regexp_extract(p_brand, 'Brand#([0-9]+)', 1)        AS brand_num_str,
       CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num,
       regexp_replace(p_name, '[aeiou]', '*', 'g')         AS name_starred,
       coalesce(regexp_matches(p_type, '^(PROMO|ECONOMY)'),
                false)                                       AS is_cheap_line
FROM part
""",
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extract/replace/match over part attributes. Spark
    regexp_replace is global by default; DuckDB needs the explicit 'g'."""
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).alias("brand_num_str"),
        F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1)
        .cast("bigint")
        .alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("name_starred"),
        # coalesce(false) both sides: a NULL boolean crosses the harness
        # asymmetrically (None vs NaN); a missing type is not a cheap line
        F.coalesce(
            F.col("p_type").rlike("^(PROMO|ECONOMY)"), F.lit(False)
        ).alias("is_cheap_line"),
    )


@register(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                       AS yr,
       month(o_orderdate)                      AS mth,
       day(o_orderdate)                        AS dom,
       isodow(o_orderdate)                     AS iso_dow,
       CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS VARCHAR) AS month_start,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR AS plus_30d,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR)    AS month_end
FROM orders
""",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date function battery over order dates.

    dayofweek is normalized to ISO numbering (1=Mon..7=Sun): Spark's
    dayofweek is 1=Sunday, so ((dayofweek + 5) % 7) + 1 maps onto DuckDB's
    isodow (SURVEY.md §5.4). Date-typed results are emitted as ISO strings.
    """
    o = Tables(spark, sf_dir).orders
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mth"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        (((F.dayofweek("o_orderdate") + 5) % 7) + 1).cast("bigint").alias("iso_dow"),
        F.date_trunc("month", "o_orderdate").cast("string").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), d)
        .cast("bigint")
        .alias("days_to_2002"),
        F.date_add(d, 30).cast("string").alias("plus_30d"),
        F.last_day(d).cast("string").alias("month_end"),
    )


@register(
    "fn_timestamp",
    oracle="""
SELECT event_id,
       hour(ts)       AS hr,
       minute(ts)     AS mins,
       second(ts)     AS secs,
       epoch_us(ts)   AS us,
       CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_bucket
FROM events
""",
)
def fn_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp function battery over events.ts (first consumer of the
    NANOS load shim — registry.py)."""
    e = Tables(spark, sf_dir).events
    return e.select(
        "event_id",
        F.hour("ts").cast("bigint").alias("hr"),
        F.minute("ts").cast("bigint").alias("mins"),
        F.second("ts").cast("bigint").alias("secs"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.date_trunc("hour", "ts").cast("string").alias("hour_bucket"),
    )


@register(
    "fn_math",
    oracle="""
SELECT o_orderkey,
       abs(0 - o_totalprice)                  AS abs_neg,
       CAST(ceil(o_totalprice) AS BIGINT)     AS price_ceil,
       CAST(floor(o_totalprice) AS BIGINT)    AS price_floor,
       -- POSITIVE domain: sqrt/ln of a negative price is an error in
       -- this engine and NULL in the other — the guard pins NULL
       CASE WHEN o_totalprice > 0 THEN sqrt(o_totalprice) END
                                              AS price_sqrt,
       CASE WHEN o_totalprice > 0
            THEN round(ln(o_totalprice), 6) END AS price_ln,
       CASE WHEN o_totalprice > 0
            THEN round(log10(o_totalprice), 6) END AS price_log10,
       o_totalprice * o_totalprice            AS price_sq,
       o_orderkey % 7                         AS key_mod7,
       CAST(sign(o_totalprice - 100000) AS BIGINT) AS above_100k
FROM orders
""",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery over prices. sqrt is IEEE-correctly-rounded (portable
    raw); ln/log10 are libm-dependent → 6 dp; squares written as x*x (not
    pow) so both engines run the identical multiply."""
    o = Tables(spark, sf_dir).orders
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.abs(F.lit(0) - p).alias("abs_neg"),
        F.ceil(p).cast("bigint").alias("price_ceil"),
        F.floor(p).cast("bigint").alias("price_floor"),
        # positive-domain guard (oracle mirrors): NULL for credits
        F.when(p > 0, F.sqrt(p)).alias("price_sqrt"),
        F.when(p > 0, F.round(F.log(p), 6)).alias("price_ln"),
        F.when(p > 0, F.round(F.log10(p), 6)).alias("price_log10"),
        (p * p).alias("price_sq"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.signum(p - 100000).cast("bigint").alias("above_100k"),
    )


@register(
    "fn_cond",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 200000 THEN 'platinum'
            WHEN o_totalprice >= 100000 THEN 'gold'
            WHEN o_totalprice >= 25000  THEN 'silver'
            ELSE 'bronze' END                          AS tier,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_or_pending,
       greatest(o_totalprice, 50000.0)                 AS at_least_50k,
       least(o_totalprice, 150000.0)                   AS at_most_150k
FROM orders
""",
)
def fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN tiering + coalesce/nullif/greatest/least."""
    o = Tables(spark, sf_dir).orders
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(p >= 200000, "platinum")
        .when(p >= 100000, "gold")
        .when(p >= 25000, "silver")
        .otherwise("bronze")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
        .alias("status_or_pending"),
        F.greatest(p, F.lit(50000.0)).alias("at_least_50k"),
        F.least(p, F.lit(150000.0)).alias("at_most_150k"),
    )


@register(
    "fn_array",
    oracle=f"""
SELECT doc_id,
       len({tokens_sql()})                         AS n_tokens,
       len(list_distinct({tokens_sql()}))          AS n_distinct,
       array_to_string(list_slice({tokens_sql()}, 1, 3), ' ') AS first3,
       coalesce(list_contains({tokens_sql()}, 'data'),
                false)                                       AS has_data,
       list_sort({tokens_sql()})[1]                AS first_alpha
FROM documents
""",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery over tokenized document text (size/slice/distinct/
    contains/sort + element access)."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", tokens())
    return d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.array_join(F.slice("toks", 1, 3), " ").alias("first3"),
        # coalesce(false): missing text does not contain 'data' (see
        # fn_regex is_cheap_line for the NULL-boolean harness note)
        F.coalesce(F.array_contains("toks", "data"), F.lit(False)).alias(
            "has_data"
        ),
        F.element_at(F.sort_array("toks"), 1).alias("first_alpha"),
    )


@register(
    "fn_array_hof",
    oracle="""
SELECT vec_id,
       list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))  AS sq_norm,
       len(list_filter(embedding, x -> x > 0))                AS n_pos,
       CAST(embedding[1] AS DOUBLE) * 2.0                     AS first_x2
FROM embeddings
WHERE (embedding IS NULL
       OR len(list_filter(embedding, x -> x IS NULL)) = 0)
""",
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over embeddings: aggregate (squared L2 norm),
    filter (positive dims), transform/element math. Floats are widened to
    double BEFORE multiplying so both engines run identical IEEE ops;
    list_sum/aggregate both reduce left-to-right, so raw doubles match.
    UNGATED on NaN/Inf (pure propagation) but NULL-component vectors are
    quarantined (portable.component_complete): Spark's aggregate nulls the
    whole reduction while DuckDB's list_sum skips NULL elements (nan tier
    r10)."""
    from ai_dataingestion_spark.functions.portable import component_complete

    e = Tables(spark, sf_dir).embeddings.where(
        component_complete("embedding")
    )
    return e.select(
        "vec_id",
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        ).alias("sq_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0))
        .cast("bigint")
        .alias("n_pos"),
        (F.element_at("embedding", 1).cast("double") * 2.0).alias("first_x2"),
    )


@register(
    "fn_map",
    oracle="""
SELECT event_id,
       len(json_keys(props))                                AS n_keys,
       array_to_string(list_sort(json_keys(props)), ',')    AS keys_csv,
       CAST(json_extract_string(props, '$.k') AS BIGINT)    AS k_val
FROM events
WHERE coalesce(json_valid(props), false)
  -- CASE keeps json_type lazy: DuckDB may reorder bare AND conjuncts and
  -- json_type RAISES on malformed input (json tier)
  AND CASE WHEN json_valid(props)
           THEN json_type(props) = 'OBJECT' ELSE false END
  AND len(json_keys(props)) = len(list_distinct(json_keys(props)))
""",
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props JSON → MapType → map_keys/element_at (flat outputs so the map
    itself never crosses the comparison boundary).

    Map-admissible domain only (json tier, mirrored in the oracle): a MAP
    parse is undefined for malformed JSON (from_json nulls the map here,
    json_keys RAISES in the oracle) and for duplicate top-level keys (a
    map cannot hold them — from_json keeps the LAST duplicate while every
    path extractor keeps the FIRST, so such documents are quarantined,
    not guessed at). VALID non-object docs ('[1,2]', '5') are quarantined
    too: Spark's json_object_keys returns NULL on them (row dropped) while
    DuckDB's json_keys returns [] (row kept with n_keys=0) — the oracle
    states json_type = 'OBJECT' so both sides drop (ADVICE r9). Keys are
    emitted SORTED: the engines' key orders (map insertion vs document
    order) are not a contract."""
    # map<string,string>, not map<string,int>: JSON object values are
    # heterogeneous, and one non-integer value makes from_json null the
    # ENTIRE map (found by the unicode tier's string-valued key) — parse
    # losslessly, cast the one numeric field at the point of use
    jok = F.expr("json_object_keys(props)")  # doc order, KEEPS duplicates
    e = (
        Tables(spark, sf_dir)
        .events.where(
            jok.isNotNull() & (F.size(jok) == F.size(F.array_distinct(jok)))
        )
        .withColumn(
            "m", F.from_json("props", MapType(StringType(), StringType()))
        )
    )
    return e.select(
        "event_id",
        F.size(F.map_keys("m")).cast("bigint").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_csv"),
        F.element_at("m", "k").cast("bigint").alias("k_val"),
    )


@register(
    "fn_json",
    oracle="""
SELECT event_id,
       -- validity CASE (json tier): this engine's path extraction RAISES
       -- on malformed JSON where Spark's get_json_object returns NULL;
       -- the gate makes both spellings NULL. On duplicate keys both
       -- extractors agree FIRST-wins, so no dup gate is needed here.
       CASE WHEN coalesce(json_valid(props), false)
            THEN json_extract_string(props, '$.k') END     AS k_str,
       CAST(CASE WHEN coalesce(json_valid(props), false)
                 THEN json_extract_string(props, '$.k') END
            AS BIGINT)                                     AS k_int,
       -- coalesce(false): missing props is NOT valid JSON on both sides
       -- (Spark's isNotNull already says false; json_valid(NULL) is NULL)
       coalesce(CAST(json_valid(props) AS BOOLEAN), false) AS is_valid
FROM events
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column (get_json_object path form).
    Malformed documents yield NULL paths and is_valid=false on both sides
    (json tier contract — see the oracle's validity CASE)."""
    e = Tables(spark, sf_dir).events
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_int"),
        F.get_json_object("props", "$").isNotNull().alias("is_valid"),
    )


@register(
    "fn_hash",
    oracle="""
SELECT doc_id,
       sha256(text) AS text_sha256,
       md5(text)    AS text_md5
FROM documents
""",
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content hashing for dedup lineage: SHA-256 + MD5 hex digests (both
    engines implement the standard algorithms; lowercase hex both)."""
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("text_sha256"),
        F.md5("text").alias("text_md5"),
    )


@register(
    "fn_struct_array",
    oracle="""
SELECT o_custkey,
       array_to_string(list(o_orderpriority || ':' || o_orderkey
            ORDER BY o_totalprice DESC, o_orderkey ASC), '|') AS order_tags,
       len(list(o_orderkey)) AS n_orders
FROM orders
GROUP BY o_custkey
""",
)
def fn_struct_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrays-of-structs surface: collect (priority, orderkey) structs per
    customer, sort by a struct key (price desc, key asc), then flatten each
    struct to a tag string — the nested-type composition pattern
    (collect_list(struct(...)) + array_sort + transform) that backs
    feature-bundle columns in training pipelines."""
    o = Tables(spark, sf_dir).orders
    tagged = o.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    # +inf sentinel: a NULL price must sort LAST under the
                    # oracle's price DESC (struct comparison would put the
                    # NULL field first)
                    F.coalesce(
                        -F.col("o_totalprice"), F.lit(float("inf"))
                    ).alias("neg_price"),
                    F.col("o_orderkey").alias("okey"),
                    F.col("o_orderpriority").alias("prio"),
                )
            )
        ).alias("structs")
    )
    return tagged.select(
        "o_custkey",
        F.array_join(
            # null-propagating concat: a NULL priority nulls the whole tag,
            # which array_join then SKIPS — exactly the oracle's
            # || -then-array_to_string behavior (concat_ws would emit a
            # bare ':4028' tag instead)
            F.transform(
                F.col("structs"),
                lambda s: F.concat(s.prio, F.lit(":"), s.okey.cast("string")),
            ),
            "|",
        ).alias("order_tags"),
        F.size("structs").cast("bigint").alias("n_orders"),
    )


@register(
    "fn_null_semantics",
    oracle=f"""
WITH base AS (
  SELECT c_custkey,
         nullif(c_mktsegment, 'BUILDING') AS seg_n,
         CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_n
  FROM customer
)
SELECT count(*)                                   AS n_rows,
       count(seg_n)                               AS n_seg_nonnull,
       count(bal_n)                               AS n_bal_nonnull,
       count(CASE WHEN seg_n IS NULL THEN 1 END)  AS n_seg_null,
       {stable_rounded_sum_sql("bal_n", 2)}       AS sum_skipnull,
       round(avg(bal_n), 4)                       AS avg_skipnull,
       count(CASE WHEN bal_n + 1 IS NULL THEN 1 END) AS n_null_arith,
       count(CASE WHEN seg_n IS NOT DISTINCT FROM NULL THEN 1 END)
                                                  AS n_nullsafe_eq_null
FROM base
""",
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics battery (the corpus itself is null-free, so nulls are
    injected via nullif/CASE): count(*) vs count(col), null-skipping
    sum/avg, null propagation through arithmetic, and null-safe equality
    (Spark <=> ≙ SQL IS NOT DISTINCT FROM)."""
    c = Tables(spark, sf_dir).customer
    base = c.select(
        "c_custkey",
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_n"),
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal_n"),
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("seg_n").alias("n_seg_nonnull"),
        F.count("bal_n").alias("n_bal_nonnull"),
        F.count(F.when(F.col("seg_n").isNull(), 1)).alias("n_seg_null"),
        stable_rounded_sum("bal_n", 2).alias("sum_skipnull"),
        F.round(F.avg("bal_n"), 4).alias("avg_skipnull"),
        F.count(F.when((F.col("bal_n") + 1).isNull(), 1)).alias("n_null_arith"),
        F.count(F.when(F.col("seg_n").eqNullSafe(F.lit(None)), 1)).alias(
            "n_nullsafe_eq_null"
        ),
    )


@register(
    "fn_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255        AS low_byte,
       o_orderkey | 4096       AS with_flag,
       xor(o_orderkey, 21845)  AS xored,
       o_orderkey << 2         AS shl2,
       o_orderkey >> 3         AS shr3,
       bit_count(o_orderkey)   AS popcount
FROM orders
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise battery over order keys (and/or/xor/shifts/popcount) — the
    primitives behind hash partitioning, bloom filters, and the simhash
    operator."""
    o = Tables(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
        F.bit_count(k).cast("bigint").alias("popcount"),
    )


@register(
    "fn_trig",
    oracle="""
SELECT o_orderkey,
       round(sin(o_totalprice / 100000.0), 6)            AS sin_v,
       round(cos(o_totalprice / 100000.0), 6)            AS cos_v,
       round(atan2(o_totalprice, 100000.0), 6)           AS atan2_v,
       round(degrees(atan2(o_totalprice, 100000.0)), 4)  AS deg_v,
       round(exp(0.0 - o_totalprice / 100000.0), 6)      AS exp_neg
FROM orders
""",
)
def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/exponential battery (libm-dependent → 6 dp both
    sides; the argument is scaled into a well-conditioned range first)."""
    o = Tables(spark, sf_dir).orders
    x = F.col("o_totalprice") / 100000.0
    return o.select(
        "o_orderkey",
        F.round(F.sin(x), 6).alias("sin_v"),
        F.round(F.cos(x), 6).alias("cos_v"),
        F.round(F.atan2(F.col("o_totalprice"), F.lit(100000.0)), 6).alias("atan2_v"),
        F.round(F.degrees(F.atan2(F.col("o_totalprice"), F.lit(100000.0))), 4).alias(
            "deg_v"
        ),
        F.round(F.exp(F.lit(0.0) - x), 6).alias("exp_neg"),
    )


@register(
    "fn_string_parts",
    oracle="""
SELECT doc_id,
       -- DuckDB split_part(NULL,..) is '' (non-standard); Spark's is NULL.
       -- The NULL-propagating contract is the SQL-idiomatic one.
       CASE WHEN text IS NULL THEN NULL
            ELSE split_part(text, ' ', 1) END      AS first_word,
       CASE WHEN text IS NULL THEN NULL
            ELSE split_part(text, ' ', 3) END      AS third_word,
       strpos(text, 'data')                        AS data_pos,
       translate(substring(text, 1, 20), 'aeiou', 'AEIOU') AS vowels_up,
       repeat(lang, 3)                             AS lang_x3,
       left(text, 5)                               AS head5,
       right(text, 5)                              AS tail5
FROM documents
""",
)
def fn_string_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery: split_part, position search, translate,
    repeat, left/right slicing."""
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(3)).alias("third_word"),
        F.instr(F.col("text"), "data").cast("bigint").alias("data_pos"),
        F.translate(F.substring("text", 1, 20), "aeiou", "AEIOU").alias("vowels_up"),
        F.repeat(F.col("lang"), 3).alias("lang_x3"),
        F.left(F.col("text"), F.lit(5)).alias("head5"),
        F.right(F.col("text"), F.lit(5)).alias("tail5"),
    )


@register(
    "fn_interval_arith",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(dayofyear(o_orderdate) AS INT) AS doy
FROM orders
""",
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic parity surface: add_months, quarter
    truncation, month-end, quarter and day-of-year extraction — all
    whole-stage-codegen expressions. Spark's add_months and DuckDB's
    + INTERVAL MONTH share end-of-month clamping semantics."""
    t = Tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("plus_3m"),
        F.date_trunc("quarter", "o_orderdate")
        .cast("timestamp_ntz")
        .alias("qtr_start"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
    )


# ---------------------------------------------------------------------------
# Strings: codecs, formatting, masking, picking and byte/char semantics
# ---------------------------------------------------------------------------


@register(
    "fn_string_codec",
    oracle="""
SELECT doc_id,
       to_base64(encode(substring(text, 1, 24))) AS b64_prefix,
       coalesce(decode(from_base64(to_base64(encode(substring(text, 1, 24)))))
         = substring(text, 1, 24), false) AS b64_roundtrip_ok,
       lower(hex(lang)) AS lang_hex,
       coalesce(decode(unhex(hex(lang))) = lang, false) AS hex_roundtrip_ok
FROM documents
""",
)
def fn_string_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-codec scalar functions: base64/unbase64 and hex/unhex
    round-trips over document text (§2.H family completion — the codecs
    every wire-format ingest path needs). The 24-char prefix stays under
    every base64 line-wrap threshold so both engines emit the unchunked
    form; hex is case-normalized (Spark uppercases, DuckDB lowercases).
    Pure expression plan — no shuffle, no UDF."""
    t = Tables(spark, sf_dir)
    prefix = F.substring("text", 1, 24)
    return t.documents.select(
        "doc_id",
        F.base64(prefix.cast("binary")).alias("b64_prefix"),
        # coalesce(false) both sides: NULL input has no roundtrip to pass,
        # and a NULL boolean crosses the compare harness asymmetrically
        F.coalesce(
            F.unbase64(F.base64(prefix.cast("binary"))).cast("string") == prefix,
            F.lit(False),
        ).alias("b64_roundtrip_ok"),
        F.lower(F.hex("lang")).alias("lang_hex"),
        F.coalesce(
            F.unhex(F.hex("lang")).cast("string") == F.col("lang"),
            F.lit(False),
        ).alias("hex_roundtrip_ok"),
    )


@register(
    "fn_string_format",
    oracle="""
SELECT p_partkey,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
       rpad(p_brand, 12, '.') AS brand_padded,
       translate(p_name, 'aeiou', 'AEIOU') AS name_devoweled,
       repeat(substring(p_name, 1, 2), 3) AS name_stutter,
       -- reverse is CODEPOINT-wise on the engine side but GRAPHEME-aware
       -- here: names carrying joiners/combining marks are out of the
       -- portable domain (NULL on both sides)
       CASE WHEN NOT regexp_matches(p_name,
                 '[' || chr(8203) || '-' || chr(8205) || chr(768) || '-'
                     || chr(879) || ']')
            THEN reverse(p_name) END AS name_reversed,
       printf('%s-%05d', p_brand, p_size) AS brand_size_code,
       concat_ws('|', p_brand, p_type, CAST(p_size AS VARCHAR)) AS packed
FROM part
""",
)
def fn_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting/padding family (§2.H completion): lpad/rpad,
    translate, repeat, reverse, printf-style format_string, and
    concat_ws — the fixed-width-key and display-formatting toolbox.
    Spark format_string and DuckDB printf share C printf semantics
    (verified for %s / %0Nd). Pure per-row expressions: zero shuffles,
    whole-stage codegen end to end."""
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias(
            "key_padded"
        ),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_devoweled"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("name_stutter"),
        F.when(
            ~F.col("p_name").rlike(
                "[\u200b-\u200d\u0300-\u036f]"
            ),
            F.reverse("p_name"),
        ).alias("name_reversed"),
        # format_string renders a NULL arg as the text "null"; DuckDB's
        # printf NULL-propagates. The guard pins the SQL-idiomatic contract.
        F.when(
            F.col("p_brand").isNull() | F.col("p_size").isNull(),
            F.lit(None).cast("string"),
        )
        .otherwise(F.format_string("%s-%05d", "p_brand", "p_size"))
        .alias("brand_size_code"),
        F.concat_ws(
            "|", "p_brand", "p_type", F.col("p_size").cast("string")
        ).alias("packed"),
    )


@register(
    "fn_content_uuid",
    oracle="""
SELECT doc_id,
       substring(md5(text), 1, 8) || '-' ||
       substring(md5(text), 9, 4) || '-' ||
       substring(md5(text), 13, 4) || '-' ||
       substring(md5(text), 17, 4) || '-' ||
       substring(md5(text), 21, 12) AS content_uuid
FROM documents
""",
)
def fn_content_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived UUID minting (the UUIDv3/v5 idea
    with the portable md5 digest): the same bytes always mint the same
    id, so re-ingestion is naturally idempotent and ids survive
    backfills — unlike uuid()/monotonically_increasing_id(), which are
    non-deterministic and unusable as content keys. Pure string
    slicing of the hex digest into 8-4-4-4-12; zero shuffles."""
    d = Tables(spark, sf_dir).documents
    h = F.md5("text")
    # F.concat, not concat_ws: concat_ws SKIPS null parts, minting the
    # empty string as a "uuid" for a NULL document — concat propagates
    # the NULL like the oracle's || chain (no content, no content key).
    uuid = F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-"),
        F.substring(h, 13, 4),
        F.lit("-"),
        F.substring(h, 17, 4),
        F.lit("-"),
        F.substring(h, 21, 12),
    )
    return d.select("doc_id", uuid.alias("content_uuid"))


@register(
    "fn_levenshtein_match",
    oracle="""
SELECT s_suppkey, s_name, n_name AS best_nation, dist FROM (
  SELECT s.s_suppkey, s.s_name, n.n_name,
         -- ASCII operands only: edit distance is an encoding-unit metric
         -- and the engines count different units outside ASCII
         CASE WHEN NOT regexp_matches(s.s_name, '[^ -~]')
               AND NOT regexp_matches(n.n_name, '[^ -~]')
              THEN levenshtein(s.s_name, n.n_name) END AS dist,
         row_number() OVER (
           PARTITION BY s.s_suppkey
           ORDER BY CASE WHEN NOT regexp_matches(s.s_name, '[^ -~]')
                          AND NOT regexp_matches(n.n_name, '[^ -~]')
                         THEN levenshtein(s.s_name, n.n_name) END ASC,
                    n.n_name ASC) AS rn
  FROM supplier s CROSS JOIN nation n
) WHERE rn = 1
""",
)
def fn_levenshtein_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy nearest-name match (entity-resolution kernel): every supplier
    against the broadcast nation list by edit distance, deterministic
    tie-break on name. At scale the small side is always the broadcast
    reference list and the cross product is bounded by its size."""
    t = Tables(spark, sf_dir)
    pairs = t.supplier.select("s_suppkey", "s_name").crossJoin(
        F.broadcast(t.nation.select("n_name"))
    )
    # asc_nulls_last on both keys: a NULL name has NULL distance to
    # everything and must never win the argmin (oracle ASC default);
    # NULL reference names lose the tie-break the same way
    w = Window.partitionBy("s_suppkey").orderBy(
        F.asc_nulls_last("dist"), F.asc_nulls_last("n_name")
    )
    ascii_pair = ~F.col("s_name").rlike("[^ -~]") & ~F.col(
        "n_name"
    ).rlike("[^ -~]")
    return (
        pairs.select(
            "s_suppkey",
            "s_name",
            "n_name",
            # NULL outside the ASCII domain (oracle mirrors): non-ASCII
            # names never win the argmin under nulls-last ordering
            F.when(ascii_pair, F.levenshtein("s_name", "n_name")).alias(
                "dist"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_suppkey", "s_name", F.col("n_name").alias("best_nation"), "dist")
    )


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


# ASCII sanitation applied IDENTICALLY on both sides: Java isUpperCase vs
# RE2 \p{Lu} disagree on exotic categories, so the masking contract is
# pinned on the printable-ASCII domain (the unicode tier mutates c_name).
_ASCII_SPARK = r"[^\x20-\x7E]"
_ASCII_DUCK = "[^ -~]"


@register(
    "fn_mask_redaction_family",
    oracle=f"""
WITH s AS (
  SELECT c_custkey,
         regexp_replace(c_name, '{_ASCII_DUCK}', '', 'g') AS nm
  FROM customer
)
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(nm,
         '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
         AS masked_default,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(nm,
         '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '9', 'g'),
         '[^Ul9]', '*', 'g')
         AS masked_custom,
       regexp_replace(nm, '[0-9]', '#', 'g') AS digits_redacted,
       CASE WHEN length(nm) >= 10
            THEN substr(nm, 1, 9) || '[REDACTED]' || substr(nm, 14)
            ELSE nm END AS spliced
FROM s
""",
)
def fn_mask_redaction_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in PII-redaction surface: mask() with default classes
    (upper→X, lower→x, digit→n, other kept), fully-custom replacement
    chars (other→'*'), and the keep-classes form (NULL per-class char ⇒
    unchanged — digits-only redaction), plus overlay() as the positional
    splice (fixed-width token replacement). Everything is a per-row
    codegen expression — the scrub rides the ingest scan at 100 TB, no
    UDF. The oracle rebuilds each mask as an explicit regexp_replace
    chain, which doubles as an executable spec of mask()'s class
    semantics. overlay() at pos 10/len 4 only applies to names long
    enough — the CASE mirrors overlay's shorter-string passthrough."""
    c = Tables(spark, sf_dir).customer
    nm = F.regexp_replace(F.col("c_name"), _ASCII_SPARK, "")
    return c.select(
        "c_custkey",
        F.mask(nm).alias("masked_default"),
        F.mask(
            nm, F.lit("U"), F.lit("l"), F.lit("9"), F.lit("*")
        ).alias("masked_custom"),
        F.mask(
            nm, F.lit(None), F.lit(None), F.lit("#"), F.lit(None)
        ).alias("digits_redacted"),
        F.when(
            F.length(nm) >= 10,
            F.overlay(nm, F.lit("[REDACTED]"), F.lit(10), F.lit(4)),
        ).otherwise(nm).alias("spliced"),
    )


@register(
    "fn_string_pick_family",
    oracle="""
WITH base AS (
  SELECT CASE WHEN p_brand IS NULL THEN NULL
              ELSE coalesce(list_position(string_split(
                     'Brand#11,Brand#12,Brand#13,Brand#14', ','),
                     p_brand), 0) END AS fis,
         (nullif(p_type, 'PROMO')
            IS NOT DISTINCT FROM nullif(p_type, 'ECONOMY')) AS eqn,
         CAST((p_partkey >> 2) & 1 AS INTEGER) AS gb,
         list_value(p_name, p_brand, p_type)
           [CAST((p_partkey % 3 + 3) % 3 + 1 AS INTEGER)] AS pick
  FROM part
)
SELECT CAST(fis AS INTEGER) AS fis, eqn, gb,
       count(*) AS n,
       CAST(count(DISTINCT pick) AS BIGINT) AS n_picks,
       min(pick) AS first_pick
FROM base GROUP BY 1, 2, 3
""",
)
def fn_string_pick_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string/bit pick family Spark keeps for MySQL-style pipelines:
    elt(i, ...) 1-based selection (index kept in [1,3] via pmod — under
    ANSI mode an out-of-range index is a runtime ERROR, and negative
    partkeys on the extremes tier would otherwise produce one; a NULL
    index yields NULL, not an error — measured), find_in_set against a
    brand CSV (miss → 0, NULL → NULL), equal_null's NULL-equates-
    NULL comparison (≡ IS NOT DISTINCT FROM) over nullif-derived
    operands so all three truth branches occur, and getbit's
    little-endian bit extraction (≡ arithmetic shift-and-mask, sign-
    consistent for negative keys on both engines). Grouped on the three
    derived dimensions — ≤ 5×2×2 groups, one partial-aggregable
    shuffle."""
    p = Tables(spark, sf_dir).part
    idx = (F.expr("(p_partkey % 3 + 3) % 3") + 1).cast("int")
    base = p.select(
        F.expr(
            "find_in_set(p_brand, 'Brand#11,Brand#12,Brand#13,Brand#14')"
        ).alias("fis"),
        F.expr(
            "equal_null(nullif(p_type, 'PROMO'), nullif(p_type, 'ECONOMY'))"
        ).alias("eqn"),
        F.expr("cast(getbit(p_partkey, 2) as int)").alias("gb"),
        F.elt(idx, "p_name", "p_brand", "p_type").alias("pick"),
    )
    return base.groupBy("fis", "eqn", "gb").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("pick").alias("n_picks"),
        F.min("pick").alias("first_pick"),
    )


# 6 two-byte (Greek) + 6 three-byte (CJK) characters: byte lengths vary,
# char lengths don't — exactly the divergence the operator pins.
_MB = "αβγδεζ日本語中文字"


@register(
    "fn_utf8_multibyte_semantics",
    oracle=f"""
SELECT CAST(sum(length(s)) AS BIGINT) AS total_chars,
       CAST(sum(strlen(s)) AS BIGINT) AS total_bytes,
       count(DISTINCT substr(s, 2, 2)) AS distinct_mid
FROM (SELECT 'a' || substr('{_MB}', CAST(1 + c_custkey % 12 AS INTEGER), 1)
          || substr('{_MB}', CAST(1 + (c_custkey * 5) % 12 AS INTEGER), 1)
          || 'z' AS s FROM customer) t
""",
)
def fn_utf8_multibyte_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 char-vs-byte semantics pinned: strings mixing 1/2/3-byte
    characters (synthesized by CHARACTER-indexed substr picks from a
    mixed Greek/CJK alphabet — the corpus is pure ASCII) must report
    length() in characters, octet_length() in bytes, and substr() must
    slice characters, never split a multibyte sequence. This is the
    contract every downstream text operator (chunkers, token counters,
    fingerprints) silently relies on; an engine or storage layer that
    byte-slices would corrupt text and diverge here. Oracle: DuckDB
    (strlen = its byte length function). Measured: 600 chars / 1046
    bytes at sf0.001 — unequal by construction."""
    t = Tables(spark, sf_dir)
    s = F.concat(
        F.lit("a"),
        F.expr(f"substr('{_MB}', CAST(1 + c_custkey % 12 AS INT), 1)"),
        F.expr(f"substr('{_MB}', CAST(1 + (c_custkey * 5) % 12 AS INT), 1)"),
        F.lit("z"),
    )
    return t.customer.select(s.alias("s")).agg(
        F.sum(F.length("s")).cast("bigint").alias("total_chars"),
        F.sum(F.octet_length("s")).cast("bigint").alias("total_bytes"),
        F.count_distinct(F.expr("substr(s, 2, 2)")).alias("distinct_mid"),
    )


@register(
    "fn_url_parse",
    oracle="""
SELECT regexp_extract(u, 'https://([^/]+)/', 1) AS host,
       regexp_extract(u, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(u, 'k=(.*)$', 1) AS qk,
       count(*) AS n
FROM (SELECT 'https://ex' || CAST(o_orderkey % 3 AS VARCHAR) || '.org/p/'
             || CAST(o_orderkey % 7 AS VARCHAR) || '?k=' || o_orderstatus AS u
      FROM orders) t
GROUP BY 1, 2, 3
""",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via Spark's parse_url (HOST / PATH / QUERY-key
    extraction) over synthesized click-log URLs (the corpus carries no
    URL column; the operator under test is the parser). parse_url is a
    JVM-side expression — no UDF — and the grouped output is bounded by
    the synthesized key domain (3 hosts x 7 paths x 3 statuses). Oracle:
    DuckDB spells the same decomposition with regexp_extract."""
    t = Tables(spark, sf_dir)
    u = F.concat(
        F.lit("https://ex"),
        (F.col("o_orderkey") % 3).cast("string"),
        F.lit(".org/p/"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("?k="),
        F.col("o_orderstatus"),
    )
    return (
        t.orders.select(u.alias("u"))
        .select(
            F.parse_url("u", F.lit("HOST")).alias("host"),
            F.parse_url("u", F.lit("PATH")).alias("path"),
            F.parse_url("u", F.lit("QUERY"), F.lit("k")).alias("qk"),
        )
        .groupBy("host", "path", "qk")
        .agg(F.count(F.lit(1)).alias("n"))
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


# ---------------------------------------------------------------------------
# Numbers and arrays: error-safe arithmetic, null safety, scaling, bucketing, array algebra
# ---------------------------------------------------------------------------


@register(
    "fn_try_safe_arith",
    oracle="""
SELECT doc_id,
       round(CAST(n_chars AS DOUBLE) / nullif(doc_id % 7, 0), 6)
         AS safe_div,
       TRY_CAST(lang AS INTEGER) AS lang_as_int,
       TRY_CAST(substring(text, 1, 3) AS INTEGER) AS prefix_as_int,
       CAST(n_chars AS DOUBLE) / nullif(doc_id % 7, 0) IS NULL
         AS div_was_unsafe
FROM documents
""",
)
def fn_try_safe_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function family (§2.H completion): try_divide
    nulls out division-by-zero instead of raising under ANSI mode, and
    try_cast nulls unparseable strings — the semantics an ingest
    pipeline needs so one bad row degrades to NULL instead of failing a
    100 TB job. DuckDB twins: a/nullif(b,0) and TRY_CAST. Pure
    expression plan, no shuffle."""
    t = Tables(spark, sf_dir)
    div = F.try_divide(
        F.col("n_chars").cast("double"), (F.col("doc_id") % 7).cast("double")
    )
    return t.documents.select(
        "doc_id",
        F.round(div, 6).alias("safe_div"),
        F.col("lang").try_cast("int").alias("lang_as_int"),
        F.substring("text", 1, 3).try_cast("int").alias("prefix_as_int"),
        div.isNull().alias("div_was_unsafe"),
    )


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


@register(
    "fn_minmax_scale_check",
    oracle="""
WITH cuts AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events
  WHERE (value IS NULL OR isfinite(value))
  GROUP BY event_type
),
scaled AS (
  SELECT e.event_type,
         (e.value - c.lo) / nullif(c.hi - c.lo, 0) AS s
  FROM events e JOIN cuts c ON e.event_type = c.event_type
  WHERE (e.value IS NULL OR isfinite(e.value))
)
SELECT event_type,
       count(*) AS n,
       floor(min(s) * 1000000 + 0.5) / 1000000 AS scaled_min,
       floor(max(s) * 1000000 + 0.5) / 1000000 AS scaled_max,
       floor(CAST(sum(CAST(floor(s * 1000000000 + 0.5) / 1000000000
                           AS DECIMAL(38, 9))) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS scaled_mean
FROM scaled GROUP BY event_type
""",
)
def fn_minmax_scale_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling with its invariants emitted as output:
    per type, scaled min must be 0 and max must be 1 (nullif guards
    the degenerate constant column), and the scaled mean summarizes
    the distribution's position in-range — the feature-engineering
    normalization step with its unit test built into the result. The
    mean uses the 9dp-round-then-DECIMAL-sum idiom
    (events_attribution_linear) so the Σ of scaled doubles is
    order-independent; min/max are order-free already. Cuts are
    types-sized and broadcast. Scales the FINITE domain only (nan-tier
    contract, mirrored in the oracle): a single +Inf makes hi-lo
    infinite — every scaled value collapses to 0 — and NaN through the
    9dp floor grid is an INT128 conversion error in the oracle; min-max
    scaling of non-finite features is undefined, so they quarantine."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).events.where(finite("value"))
    cuts = e.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    s = (F.col("value") - F.col("lo")) / F.nullif(
        F.col("hi") - F.col("lo"), F.lit(0.0)
    )
    scaled = e.join(F.broadcast(cuts), "event_type").select(
        "event_type", s.alias("s")
    )
    n = F.count(F.lit(1))
    return scaled.groupBy("event_type").agg(
        n.alias("n"),
        pround(F.min("s")).alias("scaled_min"),
        pround(F.max("s")).alias("scaled_max"),
        pround(
            F.sum(pround(F.col("s"), 9).cast("decimal(38,9)")).cast("double")
            / n
        ).alias("scaled_mean"),
    )


_WB_SQL = """
CASE WHEN {v} IS NULL OR NOT isfinite({v}) THEN NULL
     WHEN {v} < 0 THEN 0
     WHEN {v} >= 65536 THEN 17
     ELSE CAST(floor({v} / 4096.0) AS BIGINT) + 1 END
"""


@register(
    "fn_width_bucket_binning",
    oracle=f"""
SELECT {_WB_SQL.format(v="l_extendedprice")} AS wb_price,
       {_WB_SQL.format(v="(l_extendedprice - 51000.0)")} AS wb_margin,
       count(*) AS n,
       {stable_rounded_sum_sql("l_extendedprice", 2)} AS price_sum
FROM lineitem
GROUP BY 1, 2
""",
)
def fn_width_bucket_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket(v, lo, hi, n) — the SQL-standard equi-width
    histogram: 16 buckets over [0, 65536) so the bucket width (4096) is
    a power of two and the boundary arithmetic (v/4096) is EXACT in
    double regardless of how either engine associates the
    (v-lo)·n/(hi-lo) computation — no boundary-flip surface. The price
    column exercises the over-range edge (prices above 65536 → bucket
    n+1 = 17); the shifted margin column the under-range edge (negative
    → bucket 0); NULLs bucket to NULL and group together on both
    engines. Non-finite inputs (extremes tier) are pinned to the NULL
    bucket on BOTH sides rather than putting Spark's NaN-bucket choice
    on trial — the policy a production binning pipeline wants anyway.
    Single partial-aggregable groupBy over ≤ 18×18 bucket pairs."""
    from ai_dataingestion_spark.functions.portable import finite

    li = Tables(spark, sf_dir).lineitem
    price = F.when(finite("l_extendedprice"), F.col("l_extendedprice"))
    margin = price - 51000.0
    return (
        li.select(
            F.expr(
                "CASE WHEN isnotnull(l_extendedprice)"
                " AND NOT isnan(l_extendedprice)"
                " AND abs(l_extendedprice) != double('inf')"
                " THEN width_bucket(l_extendedprice, 0.0d, 65536.0d, 16)"
                " END"
            ).alias("wb_price"),
            F.when(
                margin.isNotNull(),
                F.expr(
                    "width_bucket(l_extendedprice - 51000.0d,"
                    " 0.0d, 65536.0d, 16)"
                ),
            ).alias("wb_margin"),
            "l_extendedprice",
        )
        .groupBy("wb_price", "wb_margin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_rounded_sum("l_extendedprice", 2).alias("price_sum"),
        )
    )


@register(
    "fn_array_reduce_horner",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS c, pos AS i
  FROM (SELECT vec_id, {dims_sql()} FROM embeddings
        WHERE embedding IS NOT NULL)
),
vals AS (
  SELECT vec_id, sum(c * power(0.5, i)) AS h FROM ex GROUP BY vec_id
)
SELECT count(*) AS n_vectors,
       round(avg(h), 6) AS mean_value,
       round(min(h), 6) AS min_value,
       round(max(h), 6) AS max_value
FROM vals
""",
)
def fn_array_reduce_horner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order ARRAY REDUCTION with a non-commutative fold:
    each embedding, read as polynomial coefficients, is evaluated at
    x = 0.5 by Horner's rule — F.aggregate over the reversed array
    with acc ← acc·x + cᵢ, the fold shape fn_array_hof's map/filter
    lambdas don't exercise (order matters; the lambda carries state).
    The whole evaluation happens INSIDE codegen per row — no explode,
    no shuffle until the 1-row corpus summary. The oracle evaluates
    the mathematically identical power sum Σ cᵢ·0.5^i; with |x| < 1
    the two orderings agree far beyond the 6-dp comparison."""
    # NULL embeddings are no polynomial: the oracle's unnest drops them
    # from vals entirely, so the count must exclude them here too.
    e = Tables(spark, sf_dir).embeddings.where(F.col("embedding").isNotNull())
    vals = e.select(
        F.aggregate(
            F.reverse(F.col("embedding")),
            F.lit(0.0),
            lambda acc, c: acc * 0.5 + c.cast("double"),
        ).alias("h")
    )
    return vals.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("h"), 6).alias("mean_value"),
        F.round(F.min("h"), 6).alias("min_value"),
        F.round(F.max("h"), 6).alias("max_value"),
    )


@register(
    "fn_array_set_ops",
    oracle=f"""
WITH halves AS (
  SELECT doc_id,
         list_slice({tokens_sql()}, 1,
                    len({tokens_sql()}) // 2) AS a,
         list_slice({tokens_sql()},
                    len({tokens_sql()}) // 2 + 1,
                    len({tokens_sql()})) AS b
  FROM documents
)
SELECT doc_id,
       len(list_distinct(list_concat(a, b)))                  AS n_union,
       len(list_distinct(list_filter(a,
             x -> list_contains(b, x))))                      AS n_intersect,
       len(list_distinct(list_filter(a,
             x -> NOT list_contains(b, x))))                  AS n_a_only,
       coalesce(len(list_filter(a, x -> list_contains(b, x))) > 0,
                false)                                          AS overlaps,
       CAST(coalesce(list_position(a, 'data'), 0) AS BIGINT)  AS pos_data
FROM halves
""",
)
def fn_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET operations (§2.H array-family completion): union /
    intersect / difference cardinalities, overlap test, and first-
    position lookup between the two token halves of each document —
    the building blocks under every shingle/containment operator,
    pinned here directly. Spark's dedicated builtins (array_union,
    array_intersect, array_except, arrays_overlap, array_position) ≡
    DuckDB's list_distinct/list_filter/list_contains spellings;
    outputs are scalar cardinalities, so no array ordering ever
    crosses the compare harness."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", tokens())
    half = (F.size("toks") / 2).cast("int")
    halved = d.select(
        "doc_id",
        F.slice("toks", 1, half).alias("a"),
        F.expr("slice(toks, int(size(toks) / 2) + 1, size(toks))").alias("b"),
    )
    return halved.select(
        "doc_id",
        F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_intersect"),
        F.size(F.array_except("a", "b")).cast("bigint").alias("n_a_only"),
        # coalesce(false): a NULL token list overlaps nothing (and a NULL
        # boolean crosses the compare harness asymmetrically)
        F.coalesce(F.arrays_overlap("a", "b"), F.lit(False)).alias("overlaps"),
        F.coalesce(F.array_position("a", "data"), F.lit(0))
        .cast("bigint")
        .alias("pos_data"),
    )


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


# ---------------------------------------------------------------------------
# Dates and timestamps: zones, calendars, business days, parsing, construction
# ---------------------------------------------------------------------------


_TZ_ZONES = ["America/New_York", "Asia/Tokyo", "Europe/Berlin"]


@register(
    "fn_timezone_convert",
    oracle="""
WITH zoned AS (
  {}
)
SELECT zone, local_hour, count(*) AS n
FROM zoned GROUP BY zone, local_hour
""".format(
        "\n  UNION ALL\n  ".join(
            f"SELECT '{z}' AS zone, "
            f"hour((ts AT TIME ZONE 'UTC') AT TIME ZONE '{z}') AS local_hour "
            f"FROM events"
            for z in _TZ_ZONES
        )
    ),
)
def fn_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion parity (§2.H family completion): UTC
    event times rendered into three zones' local wall clocks, counted
    per local hour — the localization step every global analytics
    rollup needs, pinned so both engines agree on tzdata semantics
    (offset application, not just formatting). Spark from_utc_timestamp
    ≡ DuckDB (ts AT TIME ZONE 'UTC') AT TIME ZONE zone. Pure
    expressions before a 3×24-row aggregate."""
    e = Tables(spark, sf_dir).events
    out = None
    for z in _TZ_ZONES:
        part = e.select(
            F.lit(z).alias("zone"),
            F.hour(
                F.from_utc_timestamp(F.col("ts").cast("timestamp"), z)
            ).alias("local_hour"),
        )
        out = part if out is None else out.unionByName(part)
    return out.groupBy("zone", "local_hour").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "fn_iso_week_parity",
    oracle="""
WITH tagged AS (
  SELECT year(CAST(o_orderdate AS DATE)
              + CAST(4 - isodow(o_orderdate) AS INT)) AS iso_year,
         weekofyear(o_orderdate) AS iso_week
  FROM orders
)
SELECT iso_year, iso_week, count(*) AS n
FROM tagged GROUP BY iso_year, iso_week
""",
)
def fn_iso_week_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 week/year calendar parity: orders counted per
    (iso_year, iso_week), where the ISO YEAR is derived explicitly as
    year(date + (4 − isodow) days) — the Thursday rule — because
    Jan 1/Dec 31 belong to the NEIGHBORING iso year whenever the week
    straddles the boundary (this corpus spans 1995-2001, so those edge
    weeks are exercised for real). Calling year() next to weekofyear()
    is the classic silently-wrong weekly rollup; this operator pins
    the correct derivation in both engines (Spark weekday()+1 ≡ DuckDB
    isodow)."""
    o = Tables(spark, sf_dir).orders
    d = F.to_date("o_orderdate")
    isodow = F.weekday(d) + 1
    iso_year = F.year(F.date_add(d, (F.lit(4) - isodow)))
    return (
        o.select(
            iso_year.alias("iso_year"),
            F.weekofyear(d).alias("iso_week"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "fn_business_days_diff",
    oracle="""
WITH lat AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS cal_days,
         -- business days between d1 (excl) and d2 (incl), Mon=1..Sun=7:
         -- full weeks x5 + weekday-remainder correction via a
         -- cumulative-business-day index bd(d) = 5*floor(d/7) +
         -- min(pmod(d,7), 5) anchored on a known Monday epoch. FLOOR
         -- division and POSITIVE modulo on both sides (epoch tier): for
         -- dates BEFORE the anchor d is negative, where // truncates
         -- toward zero in this engine while Spark's floor() rounds down,
         -- and % takes the dividend's sign in both — the explicit
         -- floor/pmod forms are sign-correct everywhere
         (5 * CAST(floor(date_diff('day', DATE '1990-01-01',
                                   CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT)
          + least(((date_diff('day', DATE '1990-01-01',
                              CAST(l_shipdate AS DATE)) % 7) + 7) % 7, 5))
         - (5 * CAST(floor(date_diff('day', DATE '1990-01-01',
                                     CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT)
            + least(((date_diff('day', DATE '1990-01-01',
                                CAST(o_orderdate AS DATE)) % 7) + 7) % 7, 5))
           AS bus_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n,
       floor(CAST(sum(cal_days) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_cal_days,
       floor(CAST(sum(bus_days) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS mean_bus_days,
       CAST(sum(CASE WHEN bus_days > 65 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sla_breach
FROM lat GROUP BY o_orderpriority
""",
)
def fn_business_days_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day latency arithmetic: order→ship deltas counted in
    WEEKDAYS via the cumulative-business-day index bd(d) = 5·⌊d/7⌋ +
    min(d mod 7, 5) anchored on a known Monday — bus_days = bd(ship) −
    bd(order), the closed form that replaces a calendar explode (and
    the correction every "datediff/7·5" approximation gets wrong at
    week boundaries). Calendar vs business means side by side per
    priority, plus a 65-business-day SLA breach count. Exact integer
    arithmetic throughout; one orderkey join, fixed literals shared
    with the oracle."""
    t = Tables(spark, sf_dir)
    anchor = F.lit("1990-01-01")  # a known Monday; dates BEFORE it give
    # negative offsets, so the index uses FLOOR division and POSITIVE
    # modulo explicitly on both sides (epoch tier: DuckDB // truncates
    # toward zero on negatives while F.floor rounds down, and % takes the
    # dividend sign in both engines — pmod is the portable weekday)

    def bd(col):
        d = F.datediff(F.to_date(col), F.to_date(anchor))
        return 5 * F.floor(d / 7) + F.least(F.pmod(d, 7), F.lit(5))

    lat = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).alias("cal_days"),
            (bd(F.col("l_shipdate")) - bd(F.col("o_orderdate"))).alias(
                "bus_days"
            ),
        )
    )
    n = F.count(F.lit(1))
    return lat.groupBy("o_orderpriority").agg(
        n.alias("n"),
        pround(F.sum("cal_days").cast("double") / n).alias("mean_cal_days"),
        pround(F.sum("bus_days").cast("double") / n).alias("mean_bus_days"),
        F.sum(F.when(F.col("bus_days") > 65, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sla_breach"),
    )


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


@register(
    "fn_multiformat_timestamp_parse",
    oracle="""
SELECT fmt_class, count(*) AS n,
       CAST(CAST(min(parsed) AS TIMESTAMP) AS VARCHAR) AS min_ts,
       CAST(CAST(max(parsed) AS TIMESTAMP) AS VARCHAR) AS max_ts FROM (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'iso'
              WHEN event_id % 3 = 1 THEN 'us' ELSE 'epoch' END AS fmt_class,
         coalesce(try_strptime(raw, '%Y-%m-%dT%H:%M:%S'),
                  try_strptime(raw, '%m/%d/%Y %H:%M:%S'),
                  CASE WHEN regexp_matches(raw, '^[0-9]+$')
                       THEN CAST(to_timestamp(CAST(raw AS BIGINT)) AS TIMESTAMP)
                  END) AS parsed
  FROM (SELECT event_id,
      CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
           WHEN event_id % 3 = 1 THEN strftime(ts, '%m/%d/%Y %H:%M:%S')
           -- floor() before the int cast: DuckDB CAST(double AS BIGINT)
           -- ROUNDS while Spark unix_timestamp() truncates (SURVEY 5.4);
           -- caught at sf0.1 where the max epoch row has fraction >= .5
           ELSE CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) END AS raw
    FROM events) r) p
GROUP BY 1
""",
)
def fn_multiformat_timestamp_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heterogeneous timestamp ingestion: raw strings arriving in three
    wire formats (ISO-8601, US slash-dates, unix epoch seconds) parsed by
    a try_to_timestamp coalesce cascade — each format attempt nulls out
    instead of failing the job (ANSI-safe), the epoch branch is guarded
    by a digits-only regex so it can't mis-eat date strings, and every
    row must land in exactly one branch. The raw strings are synthesized
    from events.ts at second precision so the round-trip is exact and the
    per-format min/max pin both the parse and the format-classifier. All
    JVM-side; 3-row output. Oracle: DuckDB's try_strptime cascade (its
    epoch parse returns TIMESTAMPTZ — cast back to naive, the second
    dialect trap this wave pins)."""
    t = Tables(spark, sf_dir)
    raw = F.when(
        F.col("event_id") % 3 == 0,
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
    ).when(
        F.col("event_id") % 3 == 1, F.date_format("ts", "MM/dd/yyyy HH:mm:ss")
    ).otherwise(F.unix_timestamp("ts").cast("bigint").cast("string"))
    fmt_class = (
        F.when(F.col("event_id") % 3 == 0, F.lit("iso"))
        .when(F.col("event_id") % 3 == 1, F.lit("us"))
        .otherwise(F.lit("epoch"))
    )
    parsed = F.coalesce(
        F.expr("try_to_timestamp(raw, \"yyyy-MM-dd'T'HH:mm:ss\")"),
        F.expr("try_to_timestamp(raw, 'MM/dd/yyyy HH:mm:ss')"),
        F.expr(
            "CASE WHEN raw rlike '^[0-9]+$' "
            "THEN timestamp_seconds(CAST(raw AS BIGINT)) END"
        ),
    )
    return (
        t.events.select(fmt_class.alias("fmt_class"), raw.alias("raw"))
        .select("fmt_class", parsed.alias("parsed"))
        .groupBy("fmt_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("parsed").cast("string").alias("min_ts"),
            F.max("parsed").cast("string").alias("max_ts"),
        )
    )


@register(
    "fn_try_datetime_make",
    oracle="""
WITH base AS (
  SELECT CAST(strftime(o_orderdate, '%m') AS INTEGER) AS mo,
         CASE WHEN CAST(strftime(o_orderdate, '%d') AS INTEGER) + 28
                   <= CAST(strftime(last_day(o_orderdate), '%d') AS INTEGER)
              THEN make_timestamp(
                     CAST(strftime(o_orderdate, '%Y') AS INTEGER),
                     CAST(strftime(o_orderdate, '%m') AS INTEGER),
                     CAST(strftime(o_orderdate, '%d') AS INTEGER) + 28,
                     CAST((o_orderkey % 24 + 24) % 24 AS INTEGER),
                     CAST((o_custkey % 60 + 60) % 60 AS INTEGER),
                     CAST((o_orderkey % 60 + 60) % 60 AS DOUBLE) + 0.25)
              END AS ts1,
         CASE WHEN (o_orderkey % 97 + 97) % 97 <> 0
              THEN TIMESTAMP '2024-01-01 00:00:00'
                   + to_days(CAST((o_custkey % 40 + 40) % 40 AS INTEGER))
                   + to_hours(CAST((o_orderkey % 24 + 24) % 24 AS INTEGER))
                   + to_milliseconds(500)
              END AS shifted
  FROM orders
)
SELECT mo,
       count(*) AS n,
       CAST(count(ts1) AS BIGINT) AS n_valid,
       CAST(min(ts1) AS VARCHAR) AS min_ts,
       CAST(max(ts1) AS VARCHAR) AS max_ts,
       CAST(count(shifted) AS BIGINT) AS n_shifted,
       CAST(min(shifted) AS VARCHAR) AS min_shifted
FROM base GROUP BY mo
""",
)
def fn_try_datetime_make(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* datetime constructors: try_make_timestamp over order-date
    components with the day pushed +28 — valid only when it stays inside
    the month, so roughly day≤3 survives and every other row pins the
    NULL-not-error contract (the oracle derives validity from last_day —
    definitional, not a dialect twin). try_make_interval builds a
    day-time interval (days/hours/0.5 s) added to a fixed anchor, with
    every 97th order requesting an INT_MAX-month interval that
    overflows to NULL on Spark while the oracle's CASE drops the same
    rows by construction. Timestamp emissions go through the string cast
    (both engines trim trailing fraction zeros identically) and the
    fractional seconds (.25/.5) are exact binary fractions — no
    formatting or rounding surface. Grouped by order month: 12 groups,
    one partial-aggregable shuffle; the constructors are per-row codegen
    riding the scan."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        F.month("o_orderdate").alias("mo"),
        F.expr(
            "try_make_timestamp(year(o_orderdate), month(o_orderdate),"
            " day(o_orderdate) + 28,"
            " cast((o_orderkey % 24 + 24) % 24 as int),"
            " cast((o_custkey % 60 + 60) % 60 as int),"
            " cast((o_orderkey % 60 + 60) % 60 as double) + 0.25d)"
        ).alias("ts1"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.expr(
                "CASE WHEN (o_orderkey % 97 + 97) % 97 = 0"
                " THEN try_make_interval(2147483647, 0, 0, 0, 0, 0, 0)"
                " ELSE try_make_interval(0, 0, 0,"
                "   cast((o_custkey % 40 + 40) % 40 as int),"
                "   cast((o_orderkey % 24 + 24) % 24 as int), 0, 0.5d)"
                " END"
            )
        ).alias("shifted"),
    )
    return base.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("ts1").alias("n_valid"),
        F.min("ts1").cast("string").alias("min_ts"),
        F.max("ts1").cast("string").alias("max_ts"),
        F.count("shifted").alias("n_shifted"),
        F.min("shifted").cast("string").alias("min_shifted"),
    )


# ---------------------------------------------------------------------------
# The TIME type
# ---------------------------------------------------------------------------


def _enable_time_type(spark: SparkSession) -> None:
    """TIME is gated off by default in Spark 4.1 (UNSUPPORTED_TIME_TYPE
    at analysis); the conf is runtime-settable, so pin it at the op
    boundary — the driver's own session won't have it either."""
    spark.conf.set("spark.sql.timeType.enabled", "true")


# Spark-side time-of-day: TIMESTAMP→TIME casts are unsupported in 4.1,
# so the portable construction is format→parse (exact: ts carries µs).
_TOD = "to_time(date_format(ts, 'HH:mm:ss.SSSSSS'))"
# DuckDB-side twin: native timestamp→TIME cast.
_TOD_SQL = "CAST(ts AS TIME)"
# DuckDB microseconds-of-day (no epoch_us on TIME): diff against the
# day-truncated timestamp — correct for pre-1970 timestamps too, where a
# plain modulo would go negative.
_US_OF_DAY_SQL = (
    "(epoch_us(ts) - epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)))"
)


@register(
    "fn_time_type_family",
    oracle=f"""
SELECT CAST(hour({_TOD_SQL}) AS INTEGER) AS hod,
       count(*) AS n,
       CAST(min({_TOD_SQL}) AS VARCHAR) AS first_s,
       CAST(max({_TOD_SQL}) AS VARCHAR) AS last_s,
       CAST(count(DISTINCT strftime(ts, '%H:%M')) AS BIGINT) AS n_active_min,
       min({_US_OF_DAY_SQL} // 10000 * 10000) AS min_us2
FROM events WHERE ts IS NOT NULL
GROUP BY 1
""",
)
def fn_time_type_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 TIME type, construction + extraction + precision: events
    timestamps become time-of-day TIME values (to_time over an exact µs
    format — TIMESTAMP→TIME casts don't exist yet), then per hour-of-day:
    min/max TIME emitted through the string cast (both engines trim
    trailing fraction zeros identically — measured), active minutes via
    time_trunc('MINUTE') distinct-count, and the time(2) precision cast
    pinned as TRUNCATION (not rounding) by emitting the truncated value
    as exact microseconds-of-day (time_diff('MICROSECOND') from
    midnight ≡ the oracle's integer floor-to-10ms grid). TIME ordering
    (min/max) is exercised on the TIME values themselves, not strings.
    One partial-aggregable groupBy over a 24-row key space — the
    expressions ride the scan at any corpus scale."""
    _enable_time_type(spark)
    e = Tables(spark, sf_dir).events
    base = e.where(F.col("ts").isNotNull()).select(
        F.expr(_TOD).alias("tod")
    )
    return base.groupBy(F.hour("tod").cast("int").alias("hod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("tod").cast("string").alias("first_s"),
        F.max("tod").cast("string").alias("last_s"),
        F.countDistinct(F.expr("time_trunc('MINUTE', tod)")).alias(
            "n_active_min"
        ),
        F.min(
            F.expr(
                "time_diff('MICROSECOND', make_time(0, 0, 0),"
                " cast(tod as time(2)))"
            )
        ).alias("min_us2"),
    )


@register(
    "fn_time_trunc_diff_family",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, ts,
         {_US_OF_DAY_SQL} // 60000000 AS min_of_day,
         {_US_OF_DAY_SQL} // 1000000 AS sec_of_day
  FROM events
)
SELECT event_type,
       count(ts) AS n,
       max(min_of_day) - min(min_of_day) AS span_min,
       min(sec_of_day) - max(sec_of_day) AS neg_span_s,
       CAST(count(DISTINCT min_of_day // 60) AS BIGINT) AS n_active_hours,
       CAST(make_time(CAST(min(sec_of_day) // 3600 AS INTEGER),
                      CAST(min(sec_of_day) // 60 % 60 AS INTEGER),
                      CAST(min(sec_of_day) % 60 AS DOUBLE)) AS VARCHAR)
         AS first_whole_s,
       CAST(count(CASE WHEN ts IS NOT NULL
                        AND NOT coalesce(event_id % 7 = 0, FALSE)
                  THEN 1 END) AS BIGINT) AS n_parsed
FROM base
GROUP BY event_type
""",
)
def fn_time_trunc_diff_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_trunc / time_diff / try_to_time, pinned per event type:
    minute-of-day span via time_diff('MINUTE') over MINUTE-truncated
    endpoints and the signed contract via time_diff('SECOND') with the
    operands reversed (negative span) — both diffs run on whole-unit-
    truncated TIME values so the oracle's integer arithmetic is exact
    with no sub-unit truncation-direction surface. time_trunc('HOUR')
    feeds the active-hours distinct count, time_trunc('SECOND') the
    fraction-free (string-safe) earliest wall time, and try_to_time
    parses an event-derived HH:mm:ss string where every 7th event_id is
    deliberately malformed ('25:61:61') — NULL, never an ANSI error;
    the oracle counts validity by construction. NULL timestamps drop out
    of every aggregate on both engines; NULL event_ids take the
    well-formed branch on both (% of NULL is NULL, not 0). Single
    partial-aggregable groupBy over the event-type dimension."""
    _enable_time_type(spark)
    e = Tables(spark, sf_dir).events
    base = e.select(
        "event_type",
        "event_id",
        "ts",
        F.expr(_TOD).alias("tod"),
    ).withColumn(
        "parse_s",
        F.when(F.col("event_id") % 7 == 0, F.lit("25:61:61")).otherwise(
            F.date_format("ts", "HH:mm:ss")
        ),
    )
    return base.groupBy("event_type").agg(
        F.count("ts").alias("n"),
        F.expr(
            "time_diff('MINUTE', time_trunc('MINUTE', min(tod)),"
            " time_trunc('MINUTE', max(tod)))"
        ).alias("span_min"),
        F.expr(
            "time_diff('SECOND', time_trunc('SECOND', max(tod)),"
            " time_trunc('SECOND', min(tod)))"
        ).alias("neg_span_s"),
        F.countDistinct(F.expr("time_trunc('HOUR', tod)")).alias(
            "n_active_hours"
        ),
        F.expr("cast(time_trunc('SECOND', min(tod)) as string)").alias(
            "first_whole_s"
        ),
        F.count(F.expr("try_to_time(parse_s)")).alias("n_parsed"),
    )


@register(
    "events_time_of_day_rollup",
    oracle=f"""
SELECT {_US_OF_DAY_SQL} // 1800000000 AS band,
       CAST(make_time(CAST({_US_OF_DAY_SQL} // 1800000000 // 2 AS INTEGER),
                      CAST({_US_OF_DAY_SQL} // 1800000000 % 2 * 30
                           AS INTEGER),
                      0.0) AS VARCHAR) AS band_start,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {stable_rounded_sum_sql("value", 2)} AS value_sum
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def events_time_of_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock seasonality rollup — the TIME-type analytics query: each
    event lands in one of 48 half-hour time-of-day bands (minute-of-day
    via time_diff('MINUTE') from midnight over the MINUTE-truncated TIME,
    integer-div 30 — exact on both engines), labeled with the band's
    make_time start (whole minutes, so the string cast is
    fraction-free). Per band: events, distinct users, and the value sum
    through stable_rounded_sum (DECIMAL accumulation; NaN/Inf tiers keep
    the raw double branch — the memory ladder's emitted-sum rule). At
    100 TB this is a 48-key partial-aggregable groupBy whose TIME
    arithmetic is per-row codegen riding the scan — constant-width
    shuffle regardless of corpus size."""
    _enable_time_type(spark)
    e = Tables(spark, sf_dir).events
    base = (
        e.where(F.col("ts").isNotNull())
        .select("user_id", "value", F.expr(_TOD).alias("tod"))
        .withColumn(
            "band",
            F.expr(
                "time_diff('MINUTE', make_time(0, 0, 0.0),"
                " time_trunc('MINUTE', tod)) div 30"
            ),
        )
        .withColumn(
            "band_start",
            F.expr(
                "cast(make_time(cast(band div 2 as int),"
                " cast(band % 2 * 30 as int), 0.0) as string)"
            ),
        )
    )
    return base.groupBy("band", "band_start").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        stable_rounded_sum("value", 2).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# JSON
# ---------------------------------------------------------------------------


@register(
    "fn_json_nested_roundtrip",
    oracle="""
WITH built AS (
  SELECT o_orderkey AS k,
         to_json(struct_pack(
           id := o_orderkey,
           meta := struct_pack(st := o_orderstatus, pr := o_orderpriority),
           arr := [o_custkey, o_orderkey % 100]
         )) AS j,
         o_orderstatus, o_custkey
  FROM orders
),
parsed AS (
  SELECT k, o_orderstatus, o_custkey,
         CAST(json_extract(j, '$.id') AS BIGINT) AS rid,
         json_extract_string(j, '$.meta.st') AS rst,
         CAST(json_extract(j, '$.arr[0]') AS BIGINT) AS rarr0
  FROM built
)
SELECT count(*) AS n_total,
       count(CASE WHEN rid = k AND rst = o_orderstatus
                   AND rarr0 = o_custkey THEN 1 END) AS n_roundtrip_ok,
       CAST(sum(rarr0) AS BIGINT) AS custkey_checksum
FROM parsed
""",
)
def fn_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON construct → serialize → re-parse round-trip: each
    order becomes a document with a nested struct and an array field,
    then every value is extracted back by path and compared to its
    origin — the schema-on-write/schema-on-read contract fn_json's
    flat props extraction doesn't cover (nested paths `$.meta.st`,
    array indexing `$.arr[0]`). Each engine round-trips its OWN
    serialization, so the parity check is on the recovered VALUES —
    all n rows must survive intact on both sides. Pure JVM-side
    expressions (to_json/from_json), zero Python, one scan."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    o = Tables(spark, sf_dir).orders
    built = o.select(
        F.col("o_orderkey").alias("k"),
        "o_orderstatus",
        "o_custkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.struct(
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_orderpriority").alias("pr"),
                ).alias("meta"),
                F.array(
                    F.col("o_custkey"), F.col("o_orderkey") % 100
                ).alias("arr"),
            )
        ).alias("j"),
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("st", StringType()),
                        StructField("pr", StringType()),
                    ]
                ),
            ),
            StructField("arr", ArrayType(LongType())),
        ]
    )
    parsed = built.select(
        "k",
        "o_orderstatus",
        "o_custkey",
        F.from_json("j", schema).alias("p"),
    ).select(
        "k",
        "o_orderstatus",
        "o_custkey",
        F.col("p.id").alias("rid"),
        F.col("p.meta.st").alias("rst"),
        F.col("p.arr").getItem(0).alias("rarr0"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(
            F.when(
                (F.col("rid") == F.col("k"))
                & (F.col("rst") == F.col("o_orderstatus"))
                & (F.col("rarr0") == F.col("o_custkey")),
                1,
            )
        ).alias("n_roundtrip_ok"),
        F.sum("rarr0").cast("bigint").alias("custkey_checksum"),
    )


@register(
    "fn_json_array_introspect",
    oracle="""
WITH base AS (
  SELECT event_type, props,
         CASE WHEN event_id IS NULL THEN NULL
              WHEN (event_id % 7 + 7) % 7 = 0 THEN NULL
              ELSE (event_id % 4 + 4) % 4 END AS expect_len
  FROM events
)
SELECT event_type,
       count(*) AS n,
       CAST(count(expect_len) AS BIGINT) AS n_arrays,
       coalesce(CAST(sum(expect_len) AS BIGINT), 0) AS total_elems,
       CAST(count(CASE WHEN props IS NOT NULL
                        AND NOT coalesce(
                              CASE WHEN json_valid(props)
                                   THEN json_type(props) = 'ARRAY' END,
                              FALSE)
                  THEN 1 END) AS BIGINT) AS n_props_nonarray
FROM base GROUP BY event_type
""",
)
def fn_json_array_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_array_length, pinned on all four contract branches with a
    definitional oracle (ground truth by construction, no DuckDB JSON
    dialect on trial): per event, a JSON int array of length
    event_id%4 is synthesized (length 0 exercises '[]' → 0), every 7th
    event's array loses its closing bracket (malformed → NULL, not an
    error), the props column is a JSON OBJECT (non-array valid JSON →
    NULL — counted to prove it), and NULL input → NULL. Per event type:
    parseable-array count and total element count. The JSON functions
    are per-row codegen; one partial-aggregable groupBy over the
    event-type dimension."""
    e = Tables(spark, sf_dir).events
    full = F.concat(
        F.lit("["),
        F.array_join(
            F.array_repeat(
                F.coalesce(F.col("user_id"), F.lit(0)).cast("string"),
                F.expr("cast((event_id % 4 + 4) % 4 as int)"),
            ),
            ",",
        ),
        F.lit("]"),
    )
    arr = F.when(
        F.col("event_id") % 7 == 0,
        F.expr(
            "substring(concat('[', array_join(array_repeat("
            " cast(coalesce(user_id, 0) as string),"
            " cast((event_id % 4 + 4) % 4 as int)), ','), ']'),"
            " 1, length(concat('[', array_join(array_repeat("
            " cast(coalesce(user_id, 0) as string),"
            " cast((event_id % 4 + 4) % 4 as int)), ','), ']')) - 1)"
        ),
    ).otherwise(full)
    base = e.select(
        "event_type",
        "props",
        F.json_array_length(arr).alias("jal"),
        F.json_array_length("props").alias("jobj"),
    )
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("jal").alias("n_arrays"),
        F.coalesce(F.sum("jal").cast("bigint"), F.lit(0)).alias(
            "total_elems"
        ),
        F.count(
            F.when(F.col("props").isNotNull() & F.col("jobj").isNull(), 1)
        ).alias("n_props_nonarray"),
    )


# ---------------------------------------------------------------------------
# AES encryption
# ---------------------------------------------------------------------------


_AES_KEY = "0123456789abcdef"  # 16-byte demo key (AES-128)
_AES_WRONG = "ffffffffffffffff"


@register(
    "fn_aes_roundtrip_property",
    oracle="""
SELECT c_mktsegment,
       CAST(count(c_name) AS BIGINT) AS n_names,
       CAST(count(c_name) AS BIGINT) AS n_ecb_roundtrip,
       coalesce(CAST(sum((octet_length(encode(c_name)) // 16 + 1) * 16)
                     AS BIGINT), 0) AS ecb_cipher_bytes,
       CAST(count(c_name) AS BIGINT) AS n_gcm_roundtrip,
       CAST(count(c_name) AS BIGINT) AS n_gcm_wrongkey_null
FROM customer
GROUP BY c_mktsegment
""",
)
def fn_aes_roundtrip_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aes_encrypt / try_aes_decrypt as oracle-checkable PROPERTIES (the
    oracle cannot run AES; it states the identities the ciphertext must
    satisfy, all definitional): (1) ECB decrypt∘encrypt ≡ identity for
    every non-NULL name; (2) ECB ciphertext length is exactly PKCS#5 —
    (⌊bytes/16⌋+1)·16, byte-counted so unicode-tier names are covered
    (Spark octet_length ≡ DuckDB octet_length(encode(·))); (3) GCM
    roundtrips despite its random IV (the IV rides the ciphertext);
    (4) GCM with the wrong key ALWAYS fails its auth tag → NULL — the
    deterministic wrong-key pin ECB cannot give (wrong-key ECB padding
    validates by accident ~1/256 of the time, so it is deliberately NOT
    emitted). NULL names encrypt to NULL and fall out of every count on
    both sides. Per-segment rollup: one partial-aggregable shuffle; the
    crypto is per-row JVM codegen riding the scan."""
    c = Tables(spark, sf_dir).customer
    k, w = F.lit(_AES_KEY), F.lit(_AES_WRONG)
    ecb = F.aes_encrypt("c_name", k, F.lit("ECB"))
    gcm = F.aes_encrypt("c_name", k, F.lit("GCM"))
    base = c.select(
        "c_mktsegment",
        "c_name",
        F.length(ecb).alias("ecb_len"),
        F.try_aes_decrypt(ecb, k, F.lit("ECB")).cast("string").alias("d_ecb"),
        F.try_aes_decrypt(gcm, k, F.lit("GCM")).cast("string").alias("d_gcm"),
        F.try_aes_decrypt(gcm, w, F.lit("GCM")).alias("d_wrong"),
    )
    return base.groupBy("c_mktsegment").agg(
        F.count("c_name").alias("n_names"),
        F.count(F.when(F.col("d_ecb") == F.col("c_name"), 1)).alias(
            "n_ecb_roundtrip"
        ),
        F.coalesce(F.sum("ecb_len").cast("bigint"), F.lit(0)).alias(
            "ecb_cipher_bytes"
        ),
        F.count(F.when(F.col("d_gcm") == F.col("c_name"), 1)).alias(
            "n_gcm_roundtrip"
        ),
        F.count(
            F.when(F.col("c_name").isNotNull() & F.col("d_wrong").isNull(), 1)
        ).alias("n_gcm_wrongkey_null"),
    )


@register(
    "fn_aes_encrypt_roundtrip",
    oracle="""
SELECT count(*) AS n, count(c_name) AS n_ok,
       count(DISTINCT c_name) AS n_distinct_ct
FROM customer
""",
)
def fn_aes_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round-trip (aes_encrypt/aes_decrypt,
    SPARK-12567): PII-bearing names encrypted with AES-128-GCM and a
    pinned IV, then decrypted and compared. Proves (a) every row
    round-trips losslessly (n_ok == n) and (b) deterministic-IV ciphertext
    is injective on plaintext (distinct ciphertexts == distinct names), so
    encrypted columns can still serve as exact-match join/dedup keys — the
    property an ingestion pipeline relies on when it encrypts PII at the
    edge but still needs entity resolution downstream. (In production the
    IV comes from a per-batch secret, not a constant; the pinned IV here
    makes the parity check deterministic.) All JVM-side codegen
    expressions, one scan, 1-row output. Oracle: the decrypt side cannot
    be spelled portably, so DuckDB pins the invariants' expected values —
    every NON-NULL name round-trips (count(c_name); encrypt of NULL is
    NULL) and ciphertexts have name-cardinality."""
    t = Tables(spark, sf_dir)
    enc = t.customer.select(
        "c_name",
        F.expr(
            f"aes_encrypt(c_name, '{_AES_KEY}', 'GCM', 'NONE', "
            "unhex('000000000000000000000000'))"
        ).alias("ct"),
    )
    return enc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.expr(
                    f"CAST(aes_decrypt(ct, '{_AES_KEY}', 'GCM') AS STRING)"
                )
                == F.col("c_name"),
                1,
            ).otherwise(0)
        ).alias("n_ok"),
        F.count_distinct("ct").alias("n_distinct_ct"),
    )
