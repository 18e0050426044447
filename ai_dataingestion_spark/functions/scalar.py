"""§2.H Scalar function families — one representative query per family.

All JVM-side built-ins (pyspark.sql.functions), i.e. inside whole-stage
codegen; nothing here crosses into Python at execution time. Cross-engine
dialect notes are measured against DuckDB 1.0.0 (probe in SURVEY.md §2.H):

- `%` sign follows the dividend in both engines (Java/C semantics) — safe.
- DuckDB ceil/floor on DOUBLE return DOUBLE-ish decimals, Spark returns LONG
  → both sides cast to BIGINT explicitly.
- regexp_extract returns '' on no-match in both engines.
- No initcap in DuckDB; skipped from the parity surface.
- Transcendentals (ln/log10) are libm-dependent → rounded to 6 dp both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import MapType, StringType

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    stable_rounded_sum,
    stable_rounded_sum_sql,
    tokens,
    tokens_sql,
)
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
