"""Round-2 surface extensions (SURVEY.md §2.N): stream joins, splits,
stratified sampling, salted, interval and bloom-prefiltered joins,
gaps-and-islands windows, and context packing.

Float discipline follows SURVEY.md §5.4: sums of money PRODUCTS go through
DECIMAL(38,6); quotients (averages, ratios) round at 6 dp; counts and keys
are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    hash60_expr,
    hash60_sql,
    tokens,
    tokens_sql,
)
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.registry import Tables


@register(
    "stream_static_join",
    oracle="""
SELECT e.event_type, count(*) AS n, count(DISTINCT e.user_id) AS n_users
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY e.event_type
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical ingestion topology the
    other streaming operators don't cover: a micro-batched event stream
    joined against a static (slowly-changing) dimension inside the stream,
    then aggregated. The dim side is re-planned per micro-batch (that is
    Spark's stream-static contract), broadcast-sized here and at 100 TB
    usually still broadcast after segment pruning. Final counts must equal
    the batch join — exactly-once across the join."""
    from ai_dataingestion_spark.registry import load_table
    from ai_dataingestion_spark.streaming.incremental import (
        _memory_query_name,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    joined = (
        _read_stream(spark, staging)
        .join(broadcast_if_small(dim, sf_dir, "customer"), "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
    )
    _run_available_now(
        joined.writeStream.format("memory").queryName(name).outputMode("complete")
    )
    # exact distinct for the oracle: recompute from the staged parquet is
    # unnecessary — the memory sink holds final counts; exact distinct users
    # comes from a batch pass over the SAME staged files (one bounded read)
    exact = (
        spark.read.schema(
            "event_id bigint, ts timestamp_ntz, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .parquet(staging)
        .join(broadcast_if_small(dim, sf_dir, "customer"), "user_id")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    # eqNullSafe: the NULL event_type group is a legal aggregation result
    # on both sides; a null-unsafe equijoin would silently drop it
    agg = spark.table(name).select("event_type", "n")
    return agg.join(
        exact, agg["event_type"].eqNullSafe(exact["event_type"])
    ).select(agg["event_type"], "n", "n_users")


@register(
    "split_train_eval",
    oracle="""
SELECT doc_id, bucket_hex,
       CASE WHEN bucket_hex BETWEEN '0' AND 'b' THEN 'train'
            WHEN bucket_hex BETWEEN 'c' AND 'd' THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, substring(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 1)
           AS bucket_hex
  FROM documents
)
""",
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free key hashing
    (md5 of the salted id — identical hex on every engine and every run,
    unlike seeded sampling, which is not reproducible across engines or
    partitionings): first hex nibble → 12/2/2 train/val/test. This is how
    training pipelines split at 100 TB — stable under re-runs, joins, and
    repartitioning, and a document's split never changes when the corpus
    grows."""
    d = Tables(spark, sf_dir).documents
    bucket = F.substring(
        F.md5(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))), 1, 1
    )
    return d.select(
        "doc_id",
        bucket.alias("bucket_hex"),
        F.when(bucket.between("0", "b"), "train")
        .when(bucket.between("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )


_JOIN_SALTS = 8


@register(
    "join_salted_skew",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id % 25 END AS nk,
         value
  FROM events
)
SELECT n.n_name, count(*) AS n, round(avg(f.value), 6) AS avg_value
FROM fact f JOIN nation n ON f.nk = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join for a skewed key (half the fact lands on one key by
    construction): the fact side adds salt = event_id % 8, the dim side is
    replicated across all 8 salts, and the join key becomes (key, salt) —
    splitting the hot key's partition 8 ways. This is the manual fallback
    when AQE skew-join can't see the skew (e.g. the hot key emerges from an
    expression, as here). The result is provably identical to the unsalted
    join, which is exactly what the oracle runs."""
    t = Tables(spark, sf_dir)
    fact = t.events.select(
        F.when(F.col("user_id") % 10 < 5, 0)
        .otherwise(F.col("user_id") % 25)
        .alias("nk"),
        "value",
        (F.col("event_id") % _JOIN_SALTS).alias("salt"),
    )
    dim = t.nation.select(
        F.col("n_nationkey").alias("nk"), "n_name"
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1))))
    return (
        fact.join(dim, ["nk", "salt"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "sample_stratified",
    oracle="""
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_frac
FROM (
  SELECT source,
         substring(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 1)
           < (CASE WHEN source IN ('src0','src1','src2','src3')
                   THEN '8' ELSE '2' END) AS kept
  FROM documents
)
GROUP BY source
ORDER BY source
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (data-mixing control: up-sample
    head domains at 8/16, tail at 2/16): keep a row iff the first md5
    nibble of its salted id clears the per-stratum threshold. Hash-based,
    so the sample is stable under re-runs, repartitioning, and engine
    choice — unlike rand()-based sampling. Pure map-side until the audit
    aggregate."""
    d = Tables(spark, sf_dir).documents
    nib = F.substring(
        F.md5(F.concat(F.lit("smp"), F.col("doc_id").cast("string"))), 1, 1
    )
    thr = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"), F.lit("8")
    ).otherwise(F.lit("2"))
    kept = (nib < thr).cast("int")
    return (
        d.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(
                F.sum("kept").cast("double") / F.count(F.lit(1)), 6
            ).alias("kept_frac"),
        )
    )


@register(
    "pack_context_windows",
    oracle=f"""
WITH sized AS (
  SELECT source, doc_id, len({tokens_sql()}) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
           AS window_id
  FROM sized
)
SELECT source, window_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed
GROUP BY source, window_id
ORDER BY source, window_id
""",
)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (greedy sequential fill used to batch docs
    into fixed token budgets for training): within each source, docs in
    doc_id order are assigned to a window by the running token count
    before the doc, quantized at 512 tokens. One window cumsum per
    source partition — at corpus scale each source shard packs
    independently, so the partition key IS the parallelism."""
    d = Tables(spark, sf_dir).documents
    sized = d.select(
        "source", "doc_id", F.size(tokens()).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "window_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0),
    )
    return packed.groupBy("source", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH win AS (
  SELECT o_orderkey, o_custkey, o_orderdate AS s,
         o_orderdate + INTERVAL 14 DAY AS e
  FROM orders
)
SELECT a.o_custkey AS custkey, count(*) AS n_overlap_pairs
FROM win a JOIN win b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND a.s < b.e AND b.s < a.e
GROUP BY a.o_custkey
ORDER BY n_overlap_pairs DESC, custkey
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (temporal conflict detection): count
    pairs of the same customer's 14-day order windows that overlap. The
    join is an EQUI-join on the entity key with the overlap predicate
    evaluated inside the join — never a cartesian: per-key groups are
    small (order count per customer), so the pair space is Σ group², not
    n². At 100 TB the same plan holds because the entity key is the
    shuffle key; a time-bucket explode would be layered on only if single
    keys grew pathological (the salting playbook, join_salted_skew)."""
    o = Tables(spark, sf_dir).orders
    win = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS")).alias("e"),
    )
    a, b = win.alias("a"), win.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
    )


@register(
    "win_gaps_islands",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
islands AS (
  SELECT user_id, event_type, rn_all - rn_type AS grp, count(*) AS run_len
  FROM seq GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT user_id, count(*) AS n_islands, max(run_len) AS longest_run
FROM islands
GROUP BY user_id
ORDER BY user_id
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (consecutive same-type event runs per user) via the
    classic two-row_number difference: both windows partition by user, so
    ONE shuffle on user_id feeds both rankings, the island grouping, and
    the final per-user rollup. Deterministic ordering ties broken by
    event_id."""
    e = Tables(spark, sf_dir).events
    w_all = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    islands = seq.groupBy(
        "user_id", "event_type", (F.col("rn_all") - F.col("rn_type")).alias("grp")
    ).agg(F.count(F.lit(1)).alias("run_len"))
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
    )


@register(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, pu.event_id AS purchase_id,
       epoch_us(pu.ts) - epoch_us(c.ts) AS lag_us
FROM events c JOIN events pu
  ON c.user_id = pu.user_id
 AND c.event_type = 'click' AND pu.event_type = 'purchase'
 AND pu.ts >= c.ts AND pu.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY c.user_id, click_id, purchase_id
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution — the last
    first-class Structured Streaming topology the suite didn't cover): two
    watermarked event streams joined on user_id with an event-time range
    condition. The time bound + both watermarks let Spark EVICT click
    state once the purchase-side watermark passes click.ts + 1 hour — the
    state-bounding contract that makes stream-stream joins viable at
    100 TB (without it, the join buffers a stream forever).

    The 2-hour watermark delay strictly dominates the 1-hour join window
    plus batch skew on the ts-ordered drops, so no valid pair is ever
    dropped and the append output equals the batch join exactly."""
    from ai_dataingestion_spark.streaming.incremental import (
        _memory_query_name,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()

    def side(event_type: str, prefix: str):
        return (
            _read_stream(spark, staging)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    clicks, purchases = side("click", "click"), side("purchase", "purchase")
    pairs = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    _run_available_now(
        pairs.writeStream.format("memory").queryName(name).outputMode("append")
    )
    return spark.table(name).select(
        F.col("click_user").alias("user_id"),
        F.col("click_id"),
        F.col("purchase_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "lag_us"
        ),
    )


_BLOOM_P = (1 << 31) - 1
_BLOOM_WORDS = 16   # per filter: 16 x 63-bit words = 1008 bits
_BLOOM_CUTOFF = 495000.0


def _bloom_parts_sql(key_expr: str, dialect: str) -> dict[str, str]:
    """Word/bit index expressions for the two independent single-hash
    blooms (A AND B membership == k=2 bloom): identical integer paths in
    both dialects from one md5 base hash."""
    if dialect == "spark":
        base = f"{hash60_expr(f'CAST({key_expr} AS STRING)')} % {_BLOOM_P}"
    else:
        base = f"{hash60_sql(f'CAST({key_expr} AS VARCHAR)')} % {_BLOOM_P}"
    return {
        "word_a": f"((3 * ({base}) + 17) % {_BLOOM_P}) % {_BLOOM_WORDS}",
        "bit_a": f"((5 * ({base}) + 29) % {_BLOOM_P}) % 63",
        "word_b": f"((7 * ({base}) + 101) % {_BLOOM_P}) % {_BLOOM_WORDS}",
        "bit_b": f"((11 * ({base}) + 7) % {_BLOOM_P}) % 63",
    }


_BP_S = _bloom_parts_sql("o_custkey", "duck")
_BP_C = _bloom_parts_sql("c_custkey", "duck")

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > {_BLOOM_CUTOFF}
),
build_h AS (
  SELECT o_custkey, {_BP_S['word_a']} AS wa, {_BP_S['bit_a']} AS ba,
         {_BP_S['word_b']} AS wb, {_BP_S['bit_b']} AS bb
  FROM build
),
bloom_a AS (SELECT wa AS word, bit_or(CAST(1 AS BIGINT) << ba) AS bits
            FROM build_h GROUP BY wa),
bloom_b AS (SELECT wb AS word, bit_or(CAST(1 AS BIGINT) << bb) AS bits
            FROM build_h GROUP BY wb),
probe AS (
  SELECT c_custkey, {_BP_C['word_a']} AS wa, {_BP_C['bit_a']} AS ba,
         {_BP_C['word_b']} AS wb, {_BP_C['bit_b']} AS bb
  FROM customer
),
cand AS (
  SELECT p.c_custkey
  FROM probe p
  JOIN bloom_a a ON a.word = p.wa AND ((a.bits >> p.ba) & 1) = 1
  JOIN bloom_b b ON b.word = p.wb AND ((b.bits >> p.bb) & 1) = 1
)
SELECT (SELECT count(*) FROM build)                     AS n_build_keys,
       (SELECT count(*) FROM cand)                      AS n_candidates,
       (SELECT count(*) FROM cand
         JOIN build ON o_custkey = c_custkey)           AS n_real,
       (SELECT count(*) FROM cand) -
       (SELECT count(*) FROM cand
         JOIN build ON o_custkey = c_custkey)           AS n_false_positives
"""


@register("join_bloom_prefilter", oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, built from scratch as a relational
    plan (the runtime-filter technique engines inject for selective joins
    — here explicit, portable, and oracle-verified): high-value-order
    custkeys are folded into two 16×63-bit bitmaps (bit_or aggregates, k=2
    via A∧B membership), the probe side joins the BROADCAST 16-row bitmaps
    and keeps rows whose bits are set, and the exact join then runs only on
    survivors. Output counts expose the pruning quality (build keys,
    candidates, exact matches, false positives). At 100 TB the bitmap is
    constant-size regardless of build cardinality — the prefilter drops
    probe rows before any fact-table shuffle."""
    t = Tables(spark, sf_dir)
    sp_build = _bloom_parts_sql("o_custkey", "spark")
    sp_probe = _bloom_parts_sql("c_custkey", "spark")
    build = (
        t.orders.filter(F.col("o_totalprice") > _BLOOM_CUTOFF)
        .select("o_custkey").distinct()
    )
    build_h = build.select(
        "o_custkey",
        *[F.expr(sp_build[k]).alias(k) for k in ("word_a", "bit_a", "word_b", "bit_b")],
    )
    bloom_a = build_h.groupBy(F.col("word_a").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit_a)")).alias("bits_a")
    )
    bloom_b = build_h.groupBy(F.col("word_b").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit_b)")).alias("bits_b")
    )
    probe = t.customer.select(
        "c_custkey",
        *[F.expr(sp_probe[k]).alias(k) for k in ("word_a", "bit_a", "word_b", "bit_b")],
    )
    cand = (
        # bloom bitmaps are CONSTANT-size (16 words x 63 bits) regardless of
        # build cardinality — a static hint is scale-safe here by design
        probe.join(F.broadcast(bloom_a), probe.word_a == bloom_a.word)
        .filter(F.expr("(bits_a >> bit_a) & 1 = 1"))
        .join(F.broadcast(bloom_b), probe.word_b == bloom_b.word)
        .filter(F.expr("(bits_b >> bit_b) & 1 = 1"))
        .select("c_custkey")
    )
    n_build = build.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_real = (
        cand.join(build, cand.c_custkey == build.o_custkey)
        .agg(F.count(F.lit(1)).alias("n_real"))
    )
    return (
        n_build.crossJoin(n_cand).crossJoin(n_real)
        .select(
            "n_build_keys",
            "n_candidates",
            "n_real",
            (F.col("n_candidates") - F.col("n_real")).alias("n_false_positives"),
        )
    )
