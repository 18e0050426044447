"""§2.A Scans / sources / sinks: every ``scan_*`` and ``sink_*`` operator.

- **Round-trip.** A format, codec, layout or write-mode operator writes to
  its own ``op_tmpdir`` and computes its result from a RE-READ through the
  matching reader; the oracle computes it from the original parquet, so a
  lossy write or read fails the check. A re-read names its schema unless
  inference is what it tests (an empty corpus writes no data files).
- **Footers.** File metadata comes from parquet footers alone, read by
  executor tasks over a DataFrame of paths (``_parquet_footers``).
- **Money** totals go through ``money_sum`` / ``money_sum_sql``.

Scale notes: sinks repartition to a target file count before writing (the
small-files problem is the #1 operational failure of 100 TB ingestion);
partitioned writes use partitionBy on a low-cardinality natural key so
downstream reads get partition pruning.
"""

from __future__ import annotations

import glob
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import money_sum, money_sum_sql
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.registry import SCHEMAS, Tables, load_table
from ai_dataingestion_spark.scale import table_bytes


@register(
    "scan_parquet",
    oracle="SELECT * FROM nation",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema parquet scan — the registry primitive every other
    operator builds on (registry.py, incl. the events NANOS shim)."""
    return load_table(spark, sf_dir, "nation")


@register(
    "scan_csv",
    oracle="SELECT * FROM nation",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with explicit schema + header: parquet → csv → read
    back. Null round-trip is exercised via nullValue on both sides."""
    out = op_tmpdir("scan_csv_")
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").option("header", True).option(
        "nullValue", "\\N"
    ).csv(out)
    return spark.read.schema(SCHEMAS["nation"]).option("header", True).option(
        "nullValue", "\\N"
    ).csv(out)


@register(
    "scan_json",
    oracle="SELECT * FROM nation",
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with explicit schema + corrupt-record column."""
    from pyspark.sql.types import StringType, StructField, StructType

    out = op_tmpdir("scan_json_")
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").json(out)
    # copy the fields — StructType.add would mutate the shared registry schema
    schema = StructType(
        list(SCHEMAS["nation"].fields)
        + [StructField("_corrupt_record", StringType(), True)]
    )
    return (
        spark.read.schema(schema)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .select(*[f.name for f in SCHEMAS["nation"].fields])
    )


@register(
    "scan_text",
    # the line-oriented text format can only carry non-null, newline-free
    # payloads: a NULL has no line representation and an embedded newline
    # splits into several rows on read-back — both are out of the
    # format's domain, stated identically on both sides
    oracle="""
SELECT text AS value FROM documents
WHERE text IS NOT NULL AND strpos(text, chr(10)) = 0
""",
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-line text ingestion (raw-document reader): one row per line."""
    out = op_tmpdir("scan_text_")
    docs = Tables(spark, sf_dir).documents
    writable = docs.where(
        F.col("text").isNotNull() & ~F.col("text").contains("\n")
    )
    writable.select("text").coalesce(1).write.mode("overwrite").text(out)
    return spark.read.text(out)


@register(
    "sink_parquet_part",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def sink_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned, compacted parquet sink: repartition by the partition
    column (one task's output per partition value → no file explosion),
    write partitionBy(l_returnflag), re-read and aggregate — proving the
    sink round-trips and the partition column survives directory encoding."""
    out = op_tmpdir("sink_parquet_")
    li = Tables(spark, sf_dir).lineitem
    (
        li.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    # explicit schema: a zero-row write leaves no data files, and schema
    # inference over an empty partitioned dir fails; partition columns are
    # still resolved from the directory names when files do exist
    back = spark.read.schema(li.schema).parquet(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@register(
    "sink_csv_json",
    oracle="""
SELECT 'csv' AS fmt, count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'json', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
""",
)
def sink_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSONL export sinks, re-read and checksummed per format."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    out_csv = op_tmpdir("sink_csv_")
    out_json = op_tmpdir("sink_json_")
    o.write.mode("overwrite").option("header", True).csv(out_csv)
    o.write.mode("overwrite").json(out_json)
    csv_back = (
        spark.read.schema("o_orderkey bigint, o_orderstatus string")
        .option("header", True)
        .csv(out_csv)
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("o_orderkey").alias("key_sum"))
        .select(F.lit("csv").alias("fmt"), "n_rows", "key_sum")
    )
    json_back = (
        spark.read.schema("o_orderkey bigint, o_orderstatus string")
        .json(out_json)
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("o_orderkey").alias("key_sum"))
        .select(F.lit("json").alias("fmt"), "n_rows", "key_sum")
    )
    return csv_back.unionByName(json_back)


@register(
    "scan_orc",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format round-trip (the columnar format Spark supports natively
    besides parquet — Hive-ecosystem interop): write nation as ORC with
    zlib compression, read it back with the declared schema. DuckDB cannot
    read ORC, so the oracle verifies the round-tripped CONTENT against the
    parquet source — format fidelity, not format parsing."""
    out = op_tmpdir("scan_orc_")
    n = Tables(spark, sf_dir).nation
    n.coalesce(1).write.mode("overwrite").option("compression", "zlib").orc(out)
    return spark.read.schema(n.schema).orc(out)


# ---------------------------------------------------------------------------
# Format round-trips: every reader option is checked against a re-read of what the matching writer wrote
# ---------------------------------------------------------------------------


@register(
    "scan_csv_malformed_permissive",
    oracle="""
SELECT count(*) AS n_rows,
       count(CASE WHEN doc_id % 17 = 0 THEN 1 END) AS n_corrupt,
       count(CASE WHEN doc_id % 17 <> 0 THEN 1 END) AS n_good,
       CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN n_chars END) AS BIGINT)
         AS good_chars
FROM documents
""",
)
def scan_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive CSV ingestion with corrupt-record capture: a CSV lake
    is written with every 17th row type-corrupted (its numeric column
    replaced by a word), then re-read under PERMISSIVE mode with an
    explicit schema + columnNameOfCorruptRecord — bad rows surface as
    NULL fields with the raw line preserved in the corrupt column
    instead of failing the scan. The dead-letter counts reconcile
    exactly with the corruption rule, which is what the oracle states.
    The r5 ingest-robustness check next to pipeline_dead_letter (which
    validates semantic rules; this one validates PARSE failures)."""
    out = op_tmpdir("csv_malformed_")
    d = Tables(spark, sf_dir).documents
    line = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat_ws(",", F.col("doc_id"), F.lit("notanumber")),
    ).otherwise(F.concat_ws(",", F.col("doc_id"), F.col("n_chars")))
    d.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(corrupt, 1)).alias("n_corrupt"),
        F.count(F.when(~corrupt, 1)).alias("n_good"),
        F.sum(F.when(~corrupt, F.col("n_chars"))).cast("bigint").alias(
            "good_chars"
        ),
    )


@register(
    "scan_csv_column_reorder",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38, 2))), 2) AS DOUBLE)
         AS price_sum
FROM orders
""",
)
def scan_csv_column_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-driven CSV reconciliation: the same relation exported by
    two producers with DIFFERENT column orders (key-first vs
    price-first — the reality of multi-team CSV feeds), read back
    per-directory with header-based name mapping and unioned BY NAME —
    a positional read would silently transpose keys into prices; the
    checksums prove the name-mapped path didn't. unionByName is the
    reconciliation contract; the oracle recomputes from the source
    relation, so any transposition breaks the hash."""
    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    half1 = o.filter(F.col("o_orderkey") % 2 == 0)
    half2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_totalprice", "o_orderstatus", "o_orderkey"  # reordered producer
    )
    d1, d2 = op_tmpdir("csv_reorder_a_"), op_tmpdir("csv_reorder_b_")
    half1.write.mode("overwrite").option("header", True).csv(d1)
    half2.write.mode("overwrite").option("header", True).csv(d2)
    r1 = (
        spark.read.option("header", True)
        .schema("o_orderkey bigint, o_totalprice double, o_orderstatus string")
        .csv(d1)
    )
    r2 = (
        spark.read.option("header", True)
        .schema(
            "o_totalprice double, o_orderstatus string, o_orderkey bigint"
        )
        .csv(d2)
    )
    merged = r1.unionByName(r2)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
        )
        .cast("double")
        .alias("price_sum"),
    )


@register(
    "scan_csv_multichar_delim",
    oracle=f"""
SELECT o_orderstatus AS status, count(*) AS n,
       {money_sum_sql("o_totalprice")}
         AS rev
FROM orders GROUP BY 1
""",
)
def scan_csv_multichar_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character-delimiter CSV ingestion (sep='||'), the legacy
    mainframe/ETL export format single-char CSV readers can't split:
    orders are exported with '||' separators (values that could contain
    the delimiter are absent by construction — keys, statuses, money),
    read back with Spark's multi-char sep support + explicit schema, and
    aggregated. The written lake uses text-mode concat so the export is
    byte-deterministic; the read is a normal distributed CSV scan
    (splittable per file). Oracle: the same aggregate on the source
    relation — a lossy export/reimport would break counts or money.
    (DuckDB's own reader caps delimiters at 1 byte — the capability gap
    this operator documents.)"""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("csv_md_")
    # coalesce-to-empty, not concat_ws's null-SKIPPING: a skipped field
    # shifts every later column over the delimiter and corrupts the parse;
    # an empty field reads back as NULL (Spark CSV's default nullValue),
    # round-tripping the NULL faithfully
    line = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit("||"),
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        F.lit("||"),
        F.coalesce(F.col("o_totalprice").cast("string"), F.lit("")),
    )
    t.orders.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.option("sep", "||")
        .schema("okey bigint, status string, price double")
        .csv(out)
    )
    return back.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("price")).alias("rev"),
    )


@register(
    "sink_csv_quoted_roundtrip",
    oracle="""
WITH src AS (
  SELECT o_orderkey,
         o_orderstatus || ',"x' || chr(10) || o_orderpriority AS tricky
  FROM orders
)
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN contains(tricky, ',') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_comma,
       CAST(sum(CASE WHEN contains(tricky, chr(10)) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_newline,
       count(DISTINCT tricky) AS n_distinct_tricky,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM src
""",
)
def sink_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture round-trip: a field carrying an embedded
    delimiter, a double-quote, AND a newline is written to CSV with
    standard RFC-4180 quote doubling (escape='\"') and re-read with
    multiLine=true — the three classic CSV-corruption vectors in one
    value. The checksummed aggregate comes from the RE-READ relation,
    so any quoting/escaping asymmetry between writer and reader breaks
    row count, distinct count, or the key checksum against the oracle's
    file-free recomputation. multiLine honesty note: quoted-newline CSV
    is NOT splittable — at 100 TB this path is for moderate-size
    interchange files; columnar formats carry the bulk (scan/sink
    parquet ops)."""
    o = Tables(spark, sf_dir).orders
    tricky = F.concat(
        F.col("o_orderstatus"),
        F.lit(',"x\n'),
        F.col("o_orderpriority"),
    )
    src = o.select("o_orderkey", tricky.alias("tricky"))
    out = op_tmpdir("sink_csv_quoted_")
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(out)
    )
    back = (
        spark.read.schema("o_orderkey bigint, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("tricky").contains(","), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_comma"),
        F.sum(F.when(F.col("tricky").contains("\n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_newline"),
        F.countDistinct("tricky").alias("n_distinct_tricky"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "sink_csv_gzip_roundtrip",
    oracle="""
SELECT 'gzip' AS codec, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'bzip2', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'uncompressed', count(*), CAST(sum(o_orderkey) AS BIGINT)
FROM orders
""",
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-TEXT sink interop (the CSV sibling of
    sink_parquet_codecs): the same relation written as gzip'd,
    bzip2'd, and plain CSV, each re-read with an explicit schema and
    checksummed. The operational point at scale: gzip CSV files are
    NOT splittable — one file is one task on read, so landing
    compressed text must control file count at write time (bzip2 IS
    block-splittable, the reason it survives in ingest paths despite
    its CPU cost). Exchange-format round-trips stay part of the sink
    contract because upstream producers ship compressed text, not
    parquet."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    out = None
    for codec in ["gzip", "bzip2", "uncompressed"]:
        path = op_tmpdir(f"sink_csv_{codec}_")
        (
            o.write.mode("overwrite")
            .option("compression", codec)
            .option("header", "true")
            .csv(path)
        )
        back = (
            spark.read.schema("o_orderkey bigint, o_orderstatus string")
            .option("header", "true")
            .csv(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .select(F.lit(codec).alias("codec"), "n", "key_sum")
        )
        out = back if out is None else out.unionByName(back)
    return out


@register(
    "sink_parquet_codecs",
    oracle="""
SELECT 'gzip' AS codec, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'snappy', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'zstd', count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
""",
)
def sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec round-trip: the same relation written
    under snappy (the splittable default), gzip (cold storage), and zstd
    (the modern ratio/speed frontier — the lake default at 100 TB), each
    re-read and checksummed. Proves codec interop end to end; codec
    choice is a table-level storage policy an ingestion engine must
    support per sink."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus")
    out = None
    for codec in ["gzip", "snappy", "zstd"]:
        path = op_tmpdir(f"sink_codec_{codec}_")
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = (
            spark.read.schema("o_orderkey bigint, o_orderstatus string")
            .parquet(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .select(F.lit(codec).alias("codec"), "n", "key_sum")
        )
        out = back if out is None else out.unionByName(back)
    return out


@register(
    "scan_json_schema_infer",
    oracle="""
SELECT 'o_orderdate' AS col_name, 'timestamp' AS inferred_type
UNION ALL SELECT 'o_orderkey', 'bigint'
UNION ALL SELECT 'o_orderpriority', 'string'
UNION ALL SELECT 'o_totalprice', 'double'
""",
)
def scan_json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read inference for JSONL: a typed slice of orders is
    exported to JSON lines and re-read WITHOUT a declared schema — the
    reader must sample the files and infer (bigint, double, string,
    timestamp). The emitted relation is the inferred schema itself, so
    the oracle pins exactly what inference must produce; a regression
    to string-everything (the classic inference failure) or a type
    widening change breaks the hash. Inference is a sampling scan —
    the one scan an ingestion engine pays once per discovery, never per
    query."""
    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"
    )
    out = op_tmpdir("scan_json_infer_")
    o.write.mode("overwrite").json(out)
    inferred = spark.read.option(
        "inferTimestamp", "true"
    ).json(out)
    rows = sorted(
        (f.name, f.dataType.simpleString()) for f in inferred.schema.fields
    )
    return spark.createDataFrame(
        rows, "col_name string, inferred_type string"
    )


@register(
    "scan_xml_roundtrip",
    oracle=f"""
SELECT o_orderstatus AS status, count(*) AS n,
       {money_sum_sql("o_totalprice")}
         AS rev
FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 1
""",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in XML data source (Spark 4.0, SPARK-44265 — the
    spark-xml package folded into core): a deterministic orders slice is
    WRITTEN as XML with rowTag=order and read back with an explicit
    schema, then aggregated — the legacy B2B feed round-trip (XML is
    still the wire format of EDI/finance feeds a 100 TB ingestion layer
    must accept). The reader splits on row tags across files and infers
    nothing here (explicit schema), so the scan parallelizes like any
    text-backed source. Oracle: the same aggregate on the source
    relation — a lossy XML round-trip breaks counts or money."""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("xml_rt_")
    sliced = t.orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    sliced.write.format("xml").option("rowTag", "order").mode(
        "overwrite"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderstatus string, o_totalprice double")
        .load(out)
    )
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("o_totalprice")).alias("rev"),
    )


@register(
    "scan_text_wholefile",
    oracle="""
WITH content AS (
  -- r_name IS NOT NULL (explicit; string_agg would skip it anyway): a
  -- NULL has no line representation in the text format
  SELECT string_agg(r_name, chr(10) ORDER BY r_name) || chr(10) AS body
  FROM region WHERE r_name IS NOT NULL
)
SELECT 1 AS n_files,
       CAST(length(body) AS BIGINT) AS content_chars,
       md5(body) AS content_md5
FROM content
""",
)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (`wholetext=true`): each FILE becomes
    one row — the scan mode for document formats where line splitting
    destroys the record (a contract per file, a log dump per file).
    One sorted single-partition text export (sortWithinPartitions makes
    the file bytes deterministic), re-read as a whole file and
    checksummed against the oracle's reconstruction of the exact byte
    stream (ordered lines + trailing newline). The non-splittability is
    the point: one file = one task, so at scale this pairs with
    many-small-files layouts, never one giant blob."""
    r = Tables(spark, sf_dir).region.where(F.col("r_name").isNotNull())
    out = op_tmpdir("scan_wholefile_")
    (
        r.select("r_name")
        .coalesce(1)
        .sortWithinPartitions("r_name")
        .write.mode("overwrite")
        .text(out)
    )
    # NB: wholetext must be the text() PARAMETER — the .option() spelling
    # is silently ignored by this reader and degrades to line mode
    whole = spark.read.text(out, wholetext=True)
    return whole.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("value")).cast("bigint").alias("content_chars"),
        F.max(F.md5("value")).alias("content_md5"),
    )


@register(
    "scan_binary_files",
    oracle="""
WITH payloads AS (
  -- r_name IS NOT NULL: an asset without a name cannot be staged as a
  -- file (and || NULL would null the body on this side only)
  SELECT r_name, 'ASSET:' || r_name || ':' || CAST(r_regionkey AS VARCHAR)
           AS body
  FROM region WHERE r_name IS NOT NULL
)
SELECT count(*) AS n_files,
       CAST(sum(octet_length(encode(body))) AS BIGINT) AS total_bytes,
       md5(string_agg(md5(body), '|' ORDER BY md5(body))) AS digest_of_digests
FROM payloads
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingestion — the REAL entry point for multimodal
    assets: each file lands as (path, modificationTime, length,
    content: binary) with no decoding. Five deterministic payload
    files are staged and read back through the binaryFile source; the
    comparison covers file count, total byte length, and an
    order-canonicalized digest-of-digests over the CONTENT bytes —
    path and mtime (host-dependent) are deliberately excluded from the
    compared schema. Pairs with multimodal_payload_dedup (dedup after
    this ingest) and the mapInPandas featurizers (decode after this
    ingest)."""
    r = (
        Tables(spark, sf_dir)
        .region.where(F.col("r_name").isNotNull())  # oracle mirrors
        .select("r_name", "r_regionkey")
        .collect()
    )
    out = op_tmpdir("scan_binary_")
    for row in r:  # 5 rows — bounded driver-side staging
        body = f"ASSET:{row['r_name']}:{row['r_regionkey']}".encode()
        with open(os.path.join(out, f"{row['r_name']}.bin"), "wb") as f:
            f.write(body)
    files = spark.read.format("binaryFile").load(out)
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.octet_length("content")).cast("bigint").alias("total_bytes"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.md5("content"))), "|")
        ).alias("digest_of_digests"),
    )


# ---------------------------------------------------------------------------
# Lake layouts: partitions, write modes, schema evolution and discovery
# ---------------------------------------------------------------------------


@register(
    "scan_partition_pruned",
    oracle=f"""
SELECT o_orderstatus, count(*) AS n_orders,
       {money_sum_sql("o_totalprice")}
         AS revenue
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: orders written partitionBy(priority) to
    a scratch lake, read back with a priority predicate — the scan must
    touch ONLY the two matching partition directories (PartitionFilters
    in the formatted plan, pinned by tests/test_plans.py). At 100 TB
    this is the difference between reading 2/5 of the table and all of
    it; the oracle is the equivalent filter on the logical relation."""
    out = op_tmpdir("scan_part_prune_")
    o = Tables(spark, sf_dir).orders
    (
        o.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    back = spark.read.schema(o.schema).parquet(out)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@register(
    "sink_file_layout_audit",
    oracle="""
SELECT l_returnflag, 1 AS n_files, count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem GROUP BY l_returnflag
""",
)
def sink_file_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-layout audit for a partitioned sink: lineitem is written
    partitionBy(returnflag) with one task per flag (the
    repartition-by-partition-column compaction rule), then the audit
    re-reads and counts DISTINCT physical files per partition via
    input_file_name() — pinning n_files = 1 per flag, the layout the
    compaction planner promises (pipeline_compaction_planner plans it;
    this verifies it happened). A layout regression (skew split,
    missing repartition → 32 small files per flag) breaks the hash,
    not just a log line."""
    li = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_returnflag")
    out = op_tmpdir("sink_layout_")
    (
        li.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    back = spark.read.schema("l_orderkey bigint, l_returnflag string").parquet(
        out
    )
    # input_file_name() is non-deterministic to the analyzer: project it
    # into a column first, THEN aggregate over the materialized value
    tagged = back.withColumn("fname", F.input_file_name())
    return tagged.groupBy("l_returnflag").agg(
        F.countDistinct("fname").cast("int").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type FROM events
),
incoming_days AS (
  -- dynamic overwrite replaces ONLY partitions PRESENT in the incoming
  -- frame: a pre-cutoff day with zero clicks sends no incoming rows, so
  -- its partition — non-clicks and all — SURVIVES. The epoch tier's
  -- sparse 1920s days made this matter (the old formula assumed every
  -- pre-cutoff day contains a click, which the dense clean corpus
  -- happened to satisfy).
  SELECT DISTINCT day FROM d
  WHERE day <= DATE '2024-01-05' AND event_type = 'click'
    AND day IS NOT NULL
),
replaced AS (
  SELECT count(*) AS c FROM d
  WHERE day IN (SELECT day FROM incoming_days) AND event_type = 'click'
),
pre_survivor AS (
  -- pre-cutoff partitions absent from the incoming frame keep ALL rows
  SELECT count(*) AS c FROM d
  WHERE day <= DATE '2024-01-05'
    AND day NOT IN (SELECT day FROM incoming_days)
),
untouched AS (
  -- the NULL-day partition (hive default dir) is a real partition the
  -- dynamic overwrite leaves untouched — it survives in the target
  SELECT count(*) AS c FROM d
  WHERE day > DATE '2024-01-05' OR day IS NULL
)
SELECT 'rows_after' AS metric,
       (SELECT c FROM replaced) + (SELECT c FROM pre_survivor)
         + (SELECT c FROM untouched) AS value
UNION ALL
SELECT 'days_present', (SELECT count(DISTINCT day) FROM d)
UNION ALL
SELECT 'touched_day_rows',
       (SELECT c FROM replaced) + (SELECT c FROM pre_survivor)
UNION ALL
SELECT 'untouched_day_rows', (SELECT c FROM untouched)
""",
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition-overwrite semantics, the incremental-reload
    contract sink_write_modes's whole-table modes can't express:
    overwrite mode with partitionOverwriteMode=dynamic replaces ONLY
    the partitions present in the incoming frame (here: days ≤ Jan 5,
    clicks only) and leaves every other day's files untouched — under
    the default static mode the same write would TRUNCATE the table to
    5 days. The op lands the full day-partitioned table, re-writes the
    filtered slice, then audits the target: total rows, surviving day
    partitions, rows inside vs outside the touched days. The session
    conf is restored in a finally block; expectations on the oracle
    side derive from the same events relation."""
    e = Tables(spark, sf_dir).events
    day = F.col("ts").cast("date").alias("day")
    base = e.select("event_id", "event_type", day)
    # Cluster rows by day before each partitionBy("day") write (guide §6):
    # unclustered, EVERY shuffle task writes a file into every day dir it
    # holds rows for (tasks x days small files; measured 480 files for 30
    # days at sf0.1), and the audit scan then pays the per-file open cost
    # over all of them. A deterministic salt (xxhash64, not rand - retried
    # map tasks must re-draw the same value, guide §2.5) bounds how many
    # tasks share one day so a giant day cannot serialize into a single
    # writer at scale: ~one writer per 512 MiB of table bytes, 1 locally.
    _wpd = 1 + table_bytes(
        sf_dir, "events", cap=1024 * 512 * 2**20
    ) // (512 * 2**20)
    writers = int(min(1024, _wpd))
    cluster = lambda df: df.repartition(  # noqa: E731
        F.col("day"), F.pmod(F.xxhash64("event_id"), F.lit(writers))
    )
    target = op_tmpdir("sink_dpo_")
    cluster(base).write.mode("overwrite").partitionBy("day").parquet(
        target
    )
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    try:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        cluster(
            base.where(
                (F.col("day") <= F.lit("2024-01-05").cast("date"))
                & (F.col("event_type") == "click")
            )
        ).write.mode("overwrite").partitionBy("day").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: an empty corpus writes zero partition dirs and
    # schema inference has nothing to read (the ingest_incremental rule)
    got = spark.read.schema(
        "event_id bigint, event_type string, day date"
    ).parquet(target)
    cutoff = F.lit("2024-01-05").cast("date")
    audit = got.agg(
        F.count(F.lit(1)).alias("rows_after"),
        F.countDistinct("day").alias("days_present"),
        F.count(F.when(F.col("day") <= cutoff, 1)).alias(
            "touched_day_rows"
        ),
        # the NULL-day partition is untouched by the overwrite (the
        # incoming slice has no NULL day) — count it on that side
        F.count(
            F.when((F.col("day") > cutoff) | F.col("day").isNull(), 1)
        ).alias("untouched_day_rows"),
    )
    return audit.select(
        F.expr(
            "stack(4, 'rows_after', rows_after,"
            " 'days_present', CAST(days_present AS BIGINT),"
            " 'touched_day_rows', touched_day_rows,"
            " 'untouched_day_rows', untouched_day_rows) AS (metric, value)"
        )
    )


@register(
    "sink_write_modes",
    oracle="""
WITH n AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 10 = 0)
SELECT 'overwrite' AS step, c AS rows_after FROM n
UNION ALL SELECT 'append', 2 * c FROM n
UNION ALL SELECT 'ignore', 2 * c FROM n
UNION ALL SELECT 'error_caught', 1
""",
)
def sink_write_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-mode semantics matrix against one parquet target: overwrite
    establishes n rows, append doubles them, ignore against the existing
    target is a silent no-op (still 2n), and errorifexists raises — the
    four-mode contract every idempotent-ingestion design builds on
    (re-run safety = ignore or overwrite; at-least-once landing =
    append + downstream dedup). Each step re-reads and counts the
    target; the errorifexists refusal (condition PATH_ALREADY_EXISTS) is
    caught and reported as its own row, and any other write error
    propagates."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") % 10 == 0)
    target = op_tmpdir("sink_modes_")
    schema = "o_orderkey bigint, o_orderstatus string"
    slim = o.select("o_orderkey", "o_orderstatus")

    def count_target() -> int:
        return spark.read.schema(schema).parquet(target).count()

    rows = []
    slim.write.mode("overwrite").parquet(target)
    rows.append(("overwrite", count_target()))
    slim.write.mode("append").parquet(target)
    rows.append(("append", count_target()))
    slim.write.mode("ignore").parquet(target)
    rows.append(("ignore", count_target()))
    try:
        slim.write.mode("errorifexists").parquet(target)
        rows.append(("error_caught", 0))
    except AnalysisException as e:
        if e.getCondition() != "PATH_ALREADY_EXISTS":
            raise
        rows.append(("error_caught", 1))
    return spark.createDataFrame(rows, "step string, rows_after bigint")


@register(
    "scan_parquet_schema_merge",
    oracle="""
SELECT 'v1' AS src, count(*) AS n,
       CAST(count(*) AS BIGINT) AS n_null_acctbal,
       CAST(NULL AS DOUBLE) AS acctbal_sum
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
-- v2 null count is the SOURCE's own null acctbals (not a pinned 0): the
-- evolved file carries the column, nullable like any other
SELECT 'v2', count(*), CAST(count(*) - count(c_acctbal) AS BIGINT),
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))), 2) AS DOUBLE)
FROM customer WHERE c_custkey % 2 = 1
""",
)
def scan_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution lake read: a v1 writer emitted (custkey, name)
    and a v2 writer later added acctbal — written to src=v1/ and src=v2/
    under one root. One mergeSchema parquet read reconstructs the union
    schema (src resolves as a partition column from the directory
    names); v1 rows surface NULL acctbal, exactly as a schema-evolved
    lake should, and the aggregate proves both the merged schema and the
    per-version null semantics. The acctbal sum runs in DECIMAL so the
    v2 checksum is order-independent. Complements schema_evolve (which
    evolves the DataFrame); this evolves the FILES."""
    c = Tables(spark, sf_dir).customer
    root = op_tmpdir("schema_merge_")
    v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1.write.mode("overwrite").parquet(f"{root}/src=v1")
    v2.write.mode("overwrite").parquet(f"{root}/src=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_acctbal"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")), 2
        )
        .cast("double")
        .alias("acctbal_sum"),
    )


@register(
    "scan_recursive_glob",
    oracle=f"""
SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS year,
       count(*) AS n,
       {money_sum_sql("o_totalprice")}
         AS rev
FROM orders
WHERE strftime(o_orderdate, '%Y') IN ('1995', '1996')
GROUP BY 1
""",
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive lake discovery with format filtering: orders for two
    years are written into ARBITRARILY nested directories (y=Y/nested/
    deep) alongside decoy JSON exports in sibling dirs, then read back
    with recursiveFileLookup=true + pathGlobFilter='*.parquet' — the
    scan must walk the whole tree, take only parquet, and skip the
    decoys without a schema error. This is how a scan survives the
    messy multi-producer lake layouts that partition-discovery
    conventions don't cover. The glob filter applies at file-listing
    time (planner-side), so decoy bytes are never read. Oracle: the
    year-filtered aggregate on the source relation — any missed or
    double-read file breaks counts."""
    t = Tables(spark, sf_dir)
    orders = t.orders
    root = op_tmpdir("rec_glob_")
    for y in (1995, 1996):
        part = orders.filter(F.year("o_orderdate") == y)
        part.write.mode("overwrite").parquet(
            os.path.join(root, f"y={y}", "nested", "deep")
        )
        part.limit(5).write.mode("overwrite").json(
            os.path.join(root, f"y={y}", "nested", "decoy_json")
        )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .schema(orders.schema)
        .parquet(root)
    )
    return back.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("o_totalprice")).alias("rev"),
    )


# ---------------------------------------------------------------------------
# File metadata: parquet footers and the _metadata columns
# ---------------------------------------------------------------------------


def _parquet_footers(paths: DataFrame) -> DataFrame:
    """``paths`` (a parquet file per row, in its ``path`` column) plus each
    file's ``n_row_groups`` and ``footer_rows``, read from its footer alone
    by executor tasks over ``paths``' partitions."""

    def read_footers(batches):
        import pyarrow.parquet as pq

        for b in batches:
            md = [pq.ParquetFile(p).metadata for p in b["path"]]
            yield b.assign(
                n_row_groups=[m.num_row_groups for m in md],
                footer_rows=[m.num_rows for m in md],
            )

    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in paths.schema)
    return paths.mapInPandas(read_footers, f"{cols}, n_row_groups int, footer_rows long")


@register(
    "scan_parquet_footer_audit",
    oracle="""
SELECT o_orderpriority AS priority, 1 AS n_files, 1 AS n_row_groups,
       count(*) AS footer_rows, count(*) AS source_rows
FROM orders GROUP BY 1
""",
)
def scan_parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet FOOTER audit of a written lake: orders are
    sunk partitionBy(priority) (one file per partition at test SF), then
    the audit ships the file LIST — not file contents — to executors,
    which read only each file's footer (``_parquet_footers``). Footer
    totals are then reconciled against the source relation per partition
    (footer_rows must equal source_rows — the invariant a
    migration/compaction job checks before swapping a table pointer).
    At 100 TB the file list is what the planner already
    holds; footer reads are O(files) tiny range requests fanned across
    executors instead of a driver loop. Oracle: expected layout (1 file /
    1 row group per partition at test SF — orders are far under the 128 MB
    row-group default) + source counts."""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("footer_audit_")
    (
        t.orders.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    # NULL priorities land in the hive default-partition directory; decode
    # it back to NULL so the audit reconciles against the source's NULL
    # group instead of silently dropping that partition
    _HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
    files = [
        (None if raw == _HIVE_NULL else raw, p)
        for p in glob.glob(os.path.join(out, "o_orderpriority=*", "*.parquet"))
        for raw in [p.split("o_orderpriority=")[1].split("/")[0]]
    ]
    paths = spark.createDataFrame(files, "priority string, path string").repartition(
        8, "path"
    )
    per_part = _parquet_footers(paths).groupBy("priority").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("n_row_groups").cast("int").alias("n_row_groups"),
        F.sum("footer_rows").alias("footer_rows"),
    )
    source = t.orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("source_rows")
    )
    # eqNullSafe: the NULL-priority partition must reconcile, not vanish
    return per_part.join(
        source, per_part["priority"].eqNullSafe(source["priority"])
    ).select(
        per_part["priority"],
        "n_files",
        "n_row_groups",
        "footer_rows",
        "source_rows",
    )


_MAX_REC = 100


@register(
    "sink_max_records_per_file",
    oracle=f"""
SELECT CAST(CAST(ceil(count(*) / {_MAX_REC}.0) AS BIGINT) AS INTEGER)
         AS n_files,
       count(*) AS n_rows, true AS sizes_within_cap
FROM orders WHERE o_orderkey % 10 = 0
""",
)
def sink_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance on write: maxRecordsPerFile caps every
    output file at 100 rows, so a single writer task emits
    ceil(n/100) files instead of one unbounded blob — the knob that
    keeps downstream readers' task sizing uniform when upstream
    parallelism is low (here coalesce(1) forces the worst case: one
    task, many files). The audit re-lists the sink and reads the footers
    in executor tasks (``_parquet_footers``): a driver loop over per-file
    footers took 124 s for 15k files, while the fanned-out reads are
    bounded by executor count, not file count. Output: file count, row
    reconciliation, and the per-file cap assertion; an empty slice gives
    0 files, 0 rows and a trivially met cap. Oracle: the ceil arithmetic
    + source count."""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("maxrec_")
    # Deterministic 10% export slice: the one-task worst case writes
    # files sequentially, so the demo input is bounded (the 10x sweep
    # measured 127 s for the unsliced 15k-file write — file-open cost,
    # not a plan defect; production caps are ~1M rows, not 100).
    export = t.orders.filter(F.col("o_orderkey") % 10 == 0)
    export.coalesce(1).write.option(
        "maxRecordsPerFile", _MAX_REC
    ).mode("overwrite").parquet(out)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(16, "path")
    # the ungrouped agg emits one row on an empty slice: coalesce its
    # NULL-on-empty aggregates to the oracle's literals
    return _parquet_footers(paths).agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.coalesce(F.sum("footer_rows"), F.lit(0).cast("long")).alias("n_rows"),
        F.coalesce(F.max("footer_rows") <= _MAX_REC, F.lit(True)).alias(
            "sizes_within_cap"
        ),
    )


@register(
    "scan_metadata_file_audit",
    oracle="""
SELECT * FROM (
  SELECT 'events' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
         true AS files_zero_based, true AS coverage_exact
  FROM events
  UNION ALL
  SELECT 'lineitem', CAST(count(*) AS BIGINT), true, true FROM lineitem
)
""",
)
def scan_metadata_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _metadata hidden columns (SPARK-37273): per-file lineage straight
    from the scan — basename, per-file row count, and each file's row_index
    range — folded into the manifest-reconciliation invariants a 100 TB
    landing-zone audit checks: (a) the per-file counts sum to the table's
    row count, (b) every file's row_index starts at 0, and (c) every
    file's index range exactly covers its row count (no gaps/overlaps —
    the property that makes file_name+row_index a stable global row
    address for incremental re-processing). The columns are populated by
    the reader DURING the scan (no pyarrow footer pass), per-file groups
    parallelize across files, and the layout tier (multi-part directory
    tables) exercises the genuinely-multi-file case. The oracle pins the
    row totals via the registered views and the invariants as literal
    true — DuckDB cannot see Spark's scan metadata, but it CAN falsify a
    count that the metadata path got wrong."""
    out = None
    for tbl in ("events", "lineitem"):
        raw = spark.read.parquet(f"{sf_dir.rstrip('/')}/{tbl}.parquet")
        per_file = (
            raw.select(
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("ri"),
            )
            .groupBy("file_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("ri").alias("lo"),
                F.max("ri").alias("hi"),
            )
        )
        part = per_file.agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.coalesce(F.bool_and(F.col("lo") == 0), F.lit(True)).alias(
                "files_zero_based"
            ),
            F.coalesce(
                F.bool_and(F.col("hi") - F.col("lo") + 1 == F.col("n")),
                F.lit(True),
            ).alias("coverage_exact"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            "files_zero_based", "coverage_exact",
        )
        out = part if out is None else out.unionByName(part)
    return out
