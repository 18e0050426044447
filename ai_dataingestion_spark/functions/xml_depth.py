"""§2.AE round-14 block: column-level XML functions (from_xml /
schema_of_xml / to_xml — Spark 4.0's SPARK-44265 expression surface).

scan_xml_roundtrip (sources/scans.py) covers XML as a FILE format;
these operators cover XML as a COLUMN — the shape a 100 TB ingest actually
meets it in: a string field inside an otherwise-relational feed (EDI
payloads in a Kafka value, legacy B2B order lines inside a CSV cell),
parsed per row with an explicit schema, never via a second scan.

- the struct round-trip proves to_xml ∘ from_xml is lossless per row —
  including entity escaping (&, <, >) over the documents corpus' text,
  which the unicode/extremes tiers stress with multi-script and 100k-char
  payloads;
- the attribute parse proves the `_attr` / `_VALUE` mapping on
  hand-assembled XML (attributes are where real feeds keep their keys);
- schema_of_xml pins the INFERENCE contract on representative payload
  shapes (repeated elements → array, attributes → _-prefixed fields,
  nesting → struct) as literal one-row relations;
- the xpath family reads single nodes and node aggregates without a schema.

Scale posture: all three are JVM expressions inside whole-stage codegen —
per-row parse cost, zero shuffle, zero Python. The synthesis side
(concat_ws over base columns) is likewise expression-only, so the ops add
parse work to the scan pass rather than new passes. Oracle strategy: the
round-trip aggregates are computed from the PARSED fields and compared to
the same aggregates DuckDB computes on the base table — any row the XML
path mangles (escaping, nulls, numeric re-formatting) breaks the hash;
inference results are literal-pinned."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.registry import Tables


@register(
    "fn_xml_roundtrip_struct",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       count(*) AS n_text_intact,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY lang
""",
)
def fn_xml_roundtrip_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_xml(struct(...)) then from_xml back over the documents corpus,
    aggregated BY THE PARSED FIELDS with an intactness count: n_text_intact
    counts rows whose round-tripped text is null-safe-equal to the
    original, and the oracle's count(*) asserts it equals n_docs — one
    mangled row (a dropped entity escape, a truncated 100k-char payload)
    breaks the hash. NULL fields: to_xml omits the element, from_xml
    restores null, and the null-safe comparison counts that as intact
    (the nulls-tier contract). ignoreSurroundingSpaces is explicitly OFF:
    the parser default trims element-content whitespace, which collapsed
    whitespace-only documents to '' on the nulls tier (found by this
    block's tier sweep — 4 of 500 docs) and would silently mutate any
    padding-significant payload; a round-trip op must be byte-exact.
    Pure expression chain — the parse rides the scan's codegen stage."""
    t = Tables(spark, sf_dir)
    ddl = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    parsed = (
        t.documents.withColumn(
            "xml",
            F.to_xml(F.struct("doc_id", "text", "lang", "source", "n_chars")),
        )
        .withColumn(
            "back",
            F.from_xml("xml", ddl, {"ignoreSurroundingSpaces": "false"}),
        )
    )
    return parsed.groupBy(F.col("back.lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("back.text").eqNullSafe(F.col("text")), 1).otherwise(0)
        ).cast("bigint").alias("n_text_intact"),
        F.sum("back.n_chars").cast("bigint").alias("sum_chars"),
        F.countDistinct("back.source").alias("n_sources"),
    )


@register(
    "fn_from_xml_attributes",
    oracle="""
SELECT coalesce(event_type, '(none)') AS event_type,
       count(*) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_ids,
       CAST(count(DISTINCT coalesce(user_id, -1)) AS BIGINT) AS n_users
FROM events
GROUP BY coalesce(event_type, '(none)')
""",
)
def fn_from_xml_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-bearing XML assembled per event row with concat (the
    wire shape: keys ride as attributes, payload as element text), parsed
    back with from_xml's `_attr` / `_VALUE` schema mapping, and aggregated
    from the PARSED fields only. NULL-able source columns are coalesced
    into sentinel values BEFORE assembly (a NULL inside concat would null
    the whole document) and the oracle mirrors the same coalesce — the
    nulls tier exercises both sentinels. Expression-only synthesis and
    parse; zero extra passes."""
    t = Tables(spark, sf_dir)
    # event_id coalesced to '' so a NULL can't null the whole concat and
    # mint a phantom NULL-type group (the combined-tier field-shift class);
    # an empty attribute parses to NULL bigint, matching the oracle's
    # null-skipping sum over the raw column.
    xml = F.concat(
        F.lit('<event id="'),
        F.coalesce(F.col("event_id").cast("string"), F.lit("")),
        F.lit('" type="'),
        F.coalesce(F.col("event_type"), F.lit("(none)")),
        F.lit('"><who uid="'),
        F.coalesce(F.col("user_id"), F.lit(-1)).cast("string"),
        F.lit('"/></event>'),
    )
    ddl = "_id bigint, _type string, who struct<_uid bigint>"
    parsed = t.events.withColumn("p", F.from_xml(xml, ddl))
    return parsed.groupBy(F.col("p._type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p._id").cast("bigint").alias("sum_ids"),
        F.countDistinct("p.who._uid").alias("n_users"),
    )


_SCHEMA_SAMPLES = (
    ("scalars", "<r><id>1</id><name>a</name><score>1.5</score></r>"),
    ("repeated_to_array", "<r><tag>a</tag><tag>b</tag><tag>c</tag></r>"),
    ("attributes", '<r id="1" kind="x"><v unit="kg">3.5</v></r>'),
    ("nested", "<r><a><b><c>1</c></b></a></r>"),
)


@register(
    "fn_schema_of_xml_inventory",
    oracle="""
SELECT * FROM (VALUES
  ('scalars', 'STRUCT<id: BIGINT, name: STRING, score: DOUBLE>'),
  ('repeated_to_array', 'STRUCT<tag: ARRAY<STRING>>'),
  ('attributes',
   'STRUCT<_id: BIGINT, _kind: STRING, v: STRUCT<_VALUE: DOUBLE, _unit: STRING>>'),
  ('nested', 'STRUCT<a: STRUCT<b: STRUCT<c: BIGINT>>>')
) AS v(shape, inferred_ddl)
""",
)
def fn_schema_of_xml_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema_of_xml over the four payload shapes a feed onboarding
    actually probes: plain scalars (typed BIGINT/STRING/DOUBLE), repeated
    elements (inferred ARRAY — the rowTag-less fan-out case), attributes
    (the _-prefix and _VALUE mapping the attribute parser depends on), and
    deep nesting (struct chain). Oracle = literal pins: a Spark upgrade
    that shifts inference (a type widening, a mapping rename) fails the
    hash loudly instead of silently re-shaping downstream parses.
    schema_of_xml requires foldable input, so this is a 4-row driver-side
    relation by construction — metadata, not data."""
    rows = [
        (shape, F.schema_of_xml(F.lit(sample)))
        for shape, sample in _SCHEMA_SAMPLES
    ]
    out = None
    for shape, ddl_col in rows:
        one = spark.range(1).select(
            F.lit(shape).alias("shape"), ddl_col.alias("inferred_ddl")
        )
        out = one if out is None else out.unionByName(one)
    return out


@register(
    "fn_xpath_extract",
    oracle="""
SELECT o_orderstatus AS status_from_xml,
       -- a NULL status makes the whole synthesized XML doc NULL on the
       -- engine side, so nothing is extractable from those rows: the
       -- reproduced arithmetic must go NULL with it
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN NULL
                     ELSE o_orderkey % 5 + 2 END) AS BIGINT) AS sum_b,
       count(*) AS n
FROM orders GROUP BY 1
""",
)
def fn_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML field extraction via Spark's xpath family (xpath_string for a
    scalar node, xpath_long for an XPath aggregate over repeated nodes)
    on per-row XML documents synthesized from order columns — the
    legacy-feed ingestion shape (the corpus has no XML column; the
    operators under test are the XPath evaluators). Extraction stays
    JVM-side; the rollup is a plain partial-aggregable groupBy. Oracle:
    DuckDB reproduces the extracted values arithmetically from the same
    source columns (status text node; sum(/r/b) = (key%5) + literal 2)."""
    t = Tables(spark, sf_dir)
    xml = F.concat(
        F.lit("<r><a>"),
        F.col("o_orderstatus"),
        F.lit("</a><b>"),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit("</b><b>2</b></r>"),
    )
    return (
        t.orders.select(xml.alias("x"))
        .select(
            F.expr("xpath_string(x, '/r/a')").alias("status_from_xml"),
            F.expr("xpath_long(x, 'sum(/r/b)')").alias("b_sum"),
        )
        .groupBy("status_from_xml")
        .agg(F.sum("b_sum").alias("sum_b"), F.count(F.lit(1)).alias("n"))
    )
