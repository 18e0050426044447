"""§2.I incremental Structured Streaming + §2.L end-to-end ingestion.

Every operator here runs a REAL streaming query (readStream → transform →
writeStream) driven to completion with Trigger.AvailableNow over a staged
file-drop directory, then returns the materialized result as a DataFrame so
the driver can compare it (counts are oracle-expressible even though the
incremental execution is not).

Determinism: events are staged into N parquet files in ascending-ts order
(file N's mtime > file N-1's), and maxFilesPerTrigger=1 forces one
micro-batch per file — so watermark advancement and state transitions are
reproducible. Checkpoint/state directories are per-invocation temp dirs.

At 100 TB the same topology holds: the file source becomes a bucketed cloud
prefix or Kafka, watermarks bound state stores, and foreachBatch's
anti-join-then-append is the idempotent ingest pattern. Every streamed
result must equal the batch computation over the same events: that is what
the oracle checks, across joins (stream-static, stream-stream), upserts and
AvailableNow drains alike.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.registry import Tables, load_table
from ai_dataingestion_spark.scale import broadcast_if_small


def has_tws_runtime() -> bool:
    """transformWithStateInPandas (Spark 4's stateful API) talks to the
    JVM state server over a protobuf protocol; the API is importable without
    protobuf but fails at query start (STREAMING_PYTHON_RUNNER_INITIALIZATION
    — measured in this container). Gate the runtime path, not the import."""
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent package 'google' absent entirely
        return False

_RAW_EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def stage_event_files(
    spark: SparkSession, sf_dir: str, n_files: int = 3, inject_dups: int = 0
) -> str:
    """Write events (sorted by ts) into n_files sequential parquet drops.

    inject_dups > 0 additionally re-writes the last `inject_dups` events as
    a trailing file — duplicate event_ids arriving in a later micro-batch,
    the fixture for streaming dedup."""
    from pyspark.sql.window import Window

    staging = op_tmpdir("stream_stage_")
    e = load_table(spark, sf_dir, "events")
    # one job: rank by ts -> bucket id -> single partitioned write
    ranked = e.withColumn(
        "_rn", F.row_number().over(Window.orderBy(F.asc_nulls_last("ts"), "event_id"))
    ).withColumn(
        "drop_bucket",
        F.least(
            (F.col("_rn") - 1)
            * n_files
            / F.sum(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
            F.lit(n_files - 1),
        ).cast("int"),
    )
    (
        ranked.drop("_rn")
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("drop_bucket")
        .parquet(staging)
    )
    if inject_dups:
        dup = e.orderBy(F.desc("ts"), F.desc("event_id")).limit(inject_dups)
        dup.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, f"drop_bucket={n_files}")
        )
    # deterministic batch order: stamp strictly increasing mtimes per bucket
    # (the file stream source orders by modification time)
    base = time.time()
    for b in range(n_files + (1 if inject_dups else 0)):
        d = os.path.join(staging, f"drop_bucket={b}")
        if os.path.isdir(d):
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (base + b, base + b))
    return staging


def _read_stream(spark: SparkSession, staging: str, max_files: int | None = 1):
    reader = (
        spark.readStream.schema(_RAW_EVENTS_DDL)
        .option("recursiveFileLookup", "true")
    )
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(staging)


def _run_available_now(writer) -> None:
    """Drive a streaming query to completion. Stateful operators create one
    state-store instance per shuffle partition per micro-batch; with a
    caller session at the 200-partition default that's pure commit overhead
    at test scale, so the shuffle width is bounded for the run and restored
    after (state partitioning is fixed at the query's first start, so this
    must happen before .start())."""
    spark = writer._df.sparkSession if hasattr(writer, "_df") else None
    key = "spark.sql.shuffle.partitions"
    old = None
    if spark is not None:
        try:
            old = spark.conf.get(key)
            spark.conf.set(key, str(min(int(old), 8)))
        except Exception:
            old = None
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        if spark is not None and old is not None:
            spark.conf.set(key, old)


def _memory_query_name() -> str:
    return f"mem_{int(time.time() * 1e6)}"


@register(
    "source_stream_file",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def source_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file-stream source: staged drops consumed one file per
    micro-batch, streaming aggregate in complete mode — final counts must
    equal the batch answer exactly (exactly-once source semantics)."""
    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()
    counts = (
        _read_stream(spark, staging)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_available_now(
        counts.writeStream.format("memory").queryName(name).outputMode("complete")
    )
    return spark.table(name)


@register(
    "stream_watermark_late",
    oracle="""
WITH kept AS (
  -- streamable-domain quarantine, mirrored in the engine: NULL event times
  -- have no window on either side, and pre-epoch times sit behind Spark's
  -- ZERO-initialized watermark before batch 0 even runs (the stream_dedup
  -- contract) — both classes are excluded explicitly rather than silently
  SELECT ts, event_type FROM events
  WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01'
),
wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS frontier FROM kept)
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS win_start,
       event_type,
       count(*) AS n
FROM kept, wm
-- append-mode finalization: a window is emitted exactly when the final
-- watermark has passed its END (inclusive: end <= frontier, pinned
-- empirically in tests/test_streaming.py on an exact-boundary corpus)
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm.frontier
GROUP BY 1, 2
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows in APPEND mode: a 10-minute watermark
    over one-file-per-batch drops — only windows the watermark has passed
    are emitted, and late rows behind the watermark are dropped. The append
    output (finalized windows only) is returned; late-drop accounting is
    asserted in tests/test_streaming.py with a hand-staged fixture.

    Batch-replay oracle (VERDICT-r10 item 3 — formerly rows-only): the
    staging is ts-ASCENDING across drops, so no row ever arrives behind the
    cross-batch watermark and the drain's append output is exactly the
    deterministic set of FINALIZED windows — those whose end <= final
    watermark = max(kept ts) - 10 min. The <= boundary and the final
    no-data flush batch (AvailableNow advances the watermark once more
    after the last data batch and evicts finalized state) are both pinned
    empirically in tests/test_streaming.py. The NULL / pre-epoch quarantine
    is explicit in both engines so tier corpora (null, negative-epoch)
    replay identically instead of relying on the zero-initialized
    watermark's silent drops."""
    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()
    # watermarks require TIMESTAMP; the NTZ->TS cast is instant-preserving
    # under the engine's pinned UTC session timezone
    windows = (
        _read_stream(spark, staging)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .where(
            F.col("ts").isNotNull()
            & (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
        )
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n",
        )
    )
    _run_available_now(
        windows.writeStream.format("memory").queryName(name).outputMode("append")
    )
    return spark.table(name)


@register(
    "stream_dedup",
    oracle="""
SELECT event_type, count(*) AS n FROM events
WHERE (ts IS NULL OR ts >= TIMESTAMP '1970-01-01')
GROUP BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by event_id within a watermark: 200 duplicate events
    re-arrive in a trailing drop; dropDuplicatesWithinWatermark removes them
    (they're the newest rows, so their state is live), and final counts
    equal the duplicate-free batch answer.

    Staged as a single micro-batch (maxFiles=None) so watermark state
    covers all rows deterministically; the multi-batch eviction behavior is
    exercised in tests/test_streaming.py.

    Streamable-domain gate (epoch tier, mirrored in the oracle): Spark's
    watermark initializes at EPOCH 0, so a pre-1970 event time is behind
    the watermark before the first batch even runs and every
    watermark-stateful operator silently drops it — no live stream emits
    negative-epoch times, so such rows are quarantined explicitly rather
    than letting the zero-initialized watermark eat them invisibly."""
    staging = stage_event_files(spark, sf_dir, n_files=3, inject_dups=200)
    name = _memory_query_name()
    deduped = (
        _read_stream(spark, staging, max_files=None)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .where(
            F.col("ts").isNull()
            | (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
        )
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_available_now(
        deduped.writeStream.format("memory").queryName(name).outputMode("complete")
    )
    return spark.table(name)


@contextlib.contextmanager
def rocksdb_state_store(spark: SparkSession):
    """transformWithState requires the RocksDB state store provider (the
    default HDFS-backed provider does not implement the multi-state /
    timer API). The provider is bound per query at first start, so the conf
    only needs to hold across .start(); restored afterwards."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, rocks)
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


class _UserCountProcessor(StatefulProcessor):
    """transformWithStateInPandas processor: cumulative event count per user
    carried in a ValueState across micro-batches (Spark 4's stateful API,
    replacing the deprecated applyInPandasWithState)."""

    def init(self, handle) -> None:
        self._count = handle.getValueState("n", "n bigint")

    def handleInputRows(self, key, rows, timer_values):
        n = self._count.get()[0] if self._count.exists() else 0
        for pdf in rows:
            n += len(pdf)
        self._count.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def close(self) -> None:
        pass


def _count_per_user(key, pdf_iter, state: GroupState):
    """Legacy-API twin of _UserCountProcessor (applyInPandasWithState) for
    containers without protobuf — same semantics, same output schema."""
    (user_id,) = key
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n]})


@register(
    "stream_stateful",
    oracle="SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming: per-user running counters carried across
    micro-batches in per-key state. Primary path is Spark 4's
    transformWithStateInPandas (ValueState + RocksDB store); when the
    runtime lacks protobuf (this container) the deprecated-but-working
    applyInPandasWithState twin runs instead — identical semantics, checked
    by the same oracle. Each batch emits the running total; the maximum per
    user is the final count, which must equal the batch groupBy — proving
    state survived the batch boundaries (3 files → 3 micro-batches)."""
    staging = stage_event_files(spark, sf_dir, n_files=3)
    name = _memory_query_name()

    grouped = _read_stream(spark, staging).groupBy("user_id")
    if has_tws_runtime():
        running = grouped.transformWithStateInPandas(
            statefulProcessor=_UserCountProcessor(),
            outputStructType="user_id bigint, n_events bigint",
            outputMode="Update",
            timeMode="None",
        )
        ctx = rocksdb_state_store(spark)
    else:
        running = grouped.applyInPandasWithState(
            _count_per_user,
            outputStructType="user_id bigint, n_events bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        ctx = contextlib.nullcontext()
    with ctx:
        _run_available_now(
            running.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
        )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


@register(
    "stream_sink_parquet",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming append to partitioned parquet: run the stream
    to completion, then START IT AGAIN on the same checkpoint — the second
    run finds no new offsets and writes nothing, so counts still equal the
    batch answer. That double-run is the exactly-once proof."""
    staging = stage_event_files(spark, sf_dir, n_files=3)
    out = op_tmpdir("stream_sink_out_")
    ckpt = op_tmpdir("stream_sink_ckpt_")
    for _ in range(2):  # second run must be a no-op (same checkpoint)
        _run_available_now(
            _read_stream(spark, staging)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy("event_type")
            .outputMode("append")
        )
    # explicit schema: a quiet window writes zero files and inference fails
    return (
        spark.read.schema(_RAW_EVENTS_DDL).parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ingest_incremental",
    # mirrors the operator's CLEAN stage: non-null ids and the closed
    # type domain (a NULL event_type is dirty input, not a group)
    oracle="""
SELECT event_type, count(*) AS n FROM events
WHERE event_id IS NOT NULL
  AND event_type IN ('click', 'purchase', 'error', 'signup', 'view')
GROUP BY event_type
""",
)
def ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental ingestion (the 'AI_DataIngestion' core loop):
    file-stream source → per-batch clean (non-null ids, valid types) →
    cross-batch dedup (anti-join each batch against event_ids already in
    the sink) → partitioned parquet append, via foreachBatch.

    A trailing drop re-delivers 200 events; the anti-join makes the append
    idempotent, so final counts equal the clean batch answer. This is the
    pattern that scales: the anti-join is against the sink's own partition
    subset, and each batch is one bounded unit of work."""
    staging = stage_event_files(spark, sf_dir, n_files=3, inject_dups=200)
    out = op_tmpdir("ingest_out_")
    ckpt = op_tmpdir("ingest_ckpt_")
    valid_types = ("click", "purchase", "error", "signup", "view")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cleaned = batch_df.filter(
            F.col("event_id").isNotNull() & F.col("event_type").isin(*valid_types)
        ).dropDuplicates(["event_id"])
        # Detect "sink empty" EXPLICITLY (first batch) instead of catching
        # read errors: a transient IO failure or corrupt sink file must
        # propagate and fail the batch — silently skipping the anti-join
        # would append duplicates and break the idempotence this operator
        # exists to prove. (At cluster scale this listing is the sink
        # FileSystem's partition listing; locally it's the temp dir.)
        sink_has_data = os.path.isdir(out) and any(
            not f.startswith(("_", ".")) for f in os.listdir(out)
        )
        if sink_has_data:
            existing = batch_df.sparkSession.read.parquet(out).select("event_id")
            fresh = cleaned.join(existing, "event_id", "left_anti")
        else:
            fresh = cleaned
        (
            fresh.repartition("event_type")
            .write.mode("append")
            .partitionBy("event_type")
            .parquet(out)
        )

    _run_available_now(
        _read_stream(spark, staging)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
    )
    # explicit schema: a quiet window writes zero files and inference fails
    return (
        spark.read.schema(_RAW_EVENTS_DDL).parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_foreachbatch_upsert",
    oracle="""
WITH ranked AS (
  -- user_id IS NOT NULL both sides: upsert state is keyed by user, and
  -- the correlated count below is null-unsafe anyway (count 0 for NULL)
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
)
SELECT user_id,
       (SELECT count(*) FROM events e WHERE e.user_id = ranked.user_id)
         AS n_events,
       -- finite gate on the summed METRIC only (nan-tier contract):
       -- event counts keep every row, but ±Inf cannot enter the exact
       -- DECIMAL state column (conversion error here, NULL-poison there)
       (SELECT CAST(round(sum(CASE WHEN isfinite(value)
                               THEN CAST(value AS DECIMAL(38,6)) END), 2)
               AS DOUBLE)
        FROM events e WHERE e.user_id = ranked.user_id) AS total_value,
       event_type AS last_type
FROM ranked WHERE rn = 1
""",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT via foreachBatch — last-writer-wins state merge,
    the semantics ingest_incremental's dedup-append cannot express:
    each micro-batch folds into a per-user state table (event count,
    DECIMAL value total, latest event type by (ts, event_id)) by
    re-aggregating old ⊕ new. The merge is associative because every
    state column is a monoid — counts add, decimals add, and 'latest'
    is max over a (ts, event_id, type) struct — which is exactly what
    makes the pattern batch-order-independent and therefore
    replay-safe at scale. State lands in alternating generation dirs
    (write-new-then-advance), never read-and-overwrite in place. Final
    answer must equal the batch aggregate over all events."""
    from ai_dataingestion_spark.streaming.incremental import (
        _RAW_EVENTS_DDL,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    root = op_tmpdir("upsert_state_")
    ckpt = op_tmpdir("upsert_ckpt_")
    state_schema = (
        "user_id bigint, n_events bigint, sum_value decimal(38,6), "
        "latest struct<ts:timestamp_ntz,event_id:bigint,event_type:string>"
    )

    def _gen_dir(gen: int) -> str:
        return os.path.join(root, f"gen={gen}")

    def _latest_gen() -> int:
        gens = [
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("gen=")
        ]
        return max(gens, default=-1)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # upsert state is keyed by user: no user, no state row (oracle
        # mirrors with user_id IS NOT NULL)
        batch_df = batch_df.where(F.col("user_id").isNotNull())
        # finite gate on the summed METRIC only (nan-tier contract,
        # mirrored in the oracle): counts keep every event, but a ±Inf
        # value must not enter the exact DECIMAL state column
        from ai_dataingestion_spark.functions.portable import finite

        batch_state = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(finite("value"), F.col("value")).cast("decimal(38,6)")
            )
            .cast("decimal(38,6)")
            .alias("sum_value"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("latest"),
        )
        gen = _latest_gen()
        if gen >= 0:
            old = sess.read.schema(state_schema).parquet(_gen_dir(gen))
            merged = (
                old.unionByName(batch_state)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
                    F.max("latest").alias("latest"),
                )
            )
        else:
            merged = batch_state
        merged.write.mode("overwrite").parquet(_gen_dir(gen + 1))

    _run_available_now(
        _read_stream(spark, staging)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
    )
    gen = _latest_gen()
    if gen < 0:
        # empty corpus: zero micro-batches fired, no state generation
        # exists — return the empty result in the contract schema
        return spark.createDataFrame(
            [],
            "user_id bigint, n_events bigint, total_value double, "
            "last_type string",
        )
    final = spark.read.schema(state_schema).parquet(_gen_dir(gen))
    return final.select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("total_value"),
        F.col("latest.event_type").alias("last_type"),
    )


@register(
    "stream_available_now_drain",
    oracle="""
SELECT o_orderstatus AS status, count(*) AS n
FROM orders GROUP BY 1
""",
)
def stream_available_now_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow backlog drain: a two-batch file backlog is
    processed by a STREAMING query that reads everything currently
    available in rate-limited micro-batches and then STOPS — the
    idempotent catch-up mode a scheduled ingestion job uses instead of
    an always-on stream (same checkpoint, same exactly-once file sink;
    re-running after new arrivals drains only the delta). The drained
    sink is read back and aggregated; equality with the source proves
    no batch was lost or doubled across micro-batch boundaries. Oracle:
    the source aggregate."""
    t = Tables(spark, sf_dir)
    orders = t.orders
    root = op_tmpdir("anow_")
    src = os.path.join(root, "src")
    ck = os.path.join(root, "ck")
    out = os.path.join(root, "out")
    shutil.rmtree(src, ignore_errors=True)
    orders.filter(F.col("o_orderkey") % 2 == 0).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "batch1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "batch2"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # a hung drain must fail loudly, not aggregate a partial sink as if
        # it were the full backlog (ADVICE r6)
        q.stop()
        raise TimeoutError("AvailableNow drain did not finish within 300s")
    os.makedirs(out, exist_ok=True)  # zero-row drain: sink dir may be bare
    back = spark.read.schema(orders.schema).parquet(out)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


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
