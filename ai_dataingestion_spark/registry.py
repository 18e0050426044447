"""Table registry: declared schemas + loaders for the 10-table corpus.

Schemas are declared explicitly (never inferred) because (a) the events table
needs the NANOS shim and (b) the DuckDB oracle compares result schemas, so
every type must be pinned (FIXTURES.md, SURVEY.md §1.4).

The events shim (SURVEY.md §7.4, measured): parquet TIMESTAMP(NANOS) is
unreadable by Spark 4.x natively; with ``spark.sql.legacy.parquet.nanosAsLong``
the column arrives as a raw int64 of nanoseconds. We convert with
``timestamp_micros(ts DIV 1000)`` — integer DIV (truncation) matches DuckDB's
silent ns→µs truncation exactly, while float division would round and drift by
1 µs — then cast to TIMESTAMP_NTZ (session TZ is UTC, so the cast is a no-op
on the wall-clock value) to match DuckDB's naive TIMESTAMP type.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# Declared engine-facing schemas (post-shim for events). FIXTURES.md is the
# measured source of truth.
SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampNTZType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampNTZType()),
    ),
    # events: engine-facing schema AFTER the nanos shim.
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampNTZType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType(), True)),
        ("label", IntegerType()),
    ),
}

TABLE_NAMES = tuple(SCHEMAS)

# Raw (on-disk) schema for events: ts is int64 nanoseconds under nanosAsLong.
_EVENTS_RAW_SCHEMA = _s(
    ("event_id", LongType()),
    ("ts", LongType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

EMBEDDING_DIM = 64  # measured: every embeddings.embedding has exactly 64 floats

_conf_applied: set[str] = set()


def _session_key(spark: SparkSession) -> str:
    """Stable per-JVM-session identity. id(spark) is unusable as a cache key
    (CPython reuses addresses after GC, silently skipping the load-bearing
    conf pin); the Spark application id is unique per started context."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # Connect-style sessions: fall back to the session id
        return str(getattr(spark, "session_id", None) or id(spark))


def _ensure_read_conf(spark: SparkSession) -> None:
    """Apply the confs correctness depends on, once per session.

    The driver calls ``queries()`` callables with ITS OWN SparkSession, which
    may lack the engine's builder confs — and ``nanosAsLong`` (read at
    DataSource construction time) plus the UTC session timezone (NTZ↔TS cast
    semantics) are load-bearing for every events query. Both are
    runtime-settable, so the registry pins them at the read boundary."""
    key = _session_key(spark)
    if key in _conf_applied:
        return
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in exotic deployments; builder sessions have it
    _conf_applied.add(key)


# Opt-in warm-table cache (bench.py): {(session, sf_dir, name): cached DF}.
# The corpus files are single-row-group parquet, so cold scans are
# single-task; caching REPARTITIONED tables restores intra-query parallelism
# — the Spark analogue of an oracle engine's warm buffer pool. Keyed by the
# owning session so a restarted/other session never receives DataFrames
# bound to a dead SparkContext.
_warm_cache: dict[tuple[str, str, str], DataFrame] = {}


def warm_tables(
    spark: SparkSession, sf_dir: str, n_partitions: int | None = None
) -> None:
    """Materialize all tables into the in-memory columnar cache, split into
    n_partitions so downstream stages parallelize. Subsequent load_table
    calls for (sf_dir, name) from the SAME session return the cached
    relation."""
    if n_partitions is None:
        n_partitions = max(4, spark.sparkContext.defaultParallelism // 2)
    key_sf = sf_dir.rstrip("/")
    sess = _session_key(spark)
    # Evict entries owned by OTHER (dead) sessions: repeated session
    # restarts in one Python process would otherwise accumulate DataFrame
    # handles (and their plan objects) unboundedly (ADVICE r2). At most one
    # session's tables are warm at a time.
    for k in [k for k in _warm_cache if k[0] != sess]:
        del _warm_cache[k]
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name).repartition(n_partitions).cache()
        df.count()  # materialize
        _warm_cache[(sess, key_sf, name)] = df


def unwarm_tables(spark: SparkSession) -> None:
    """Drop the calling session's warm-table cache and unpersist the cached
    relations, returning ``load_table`` to direct parquet scans. Used by
    bench.py's cold-scan pass (optimization r17, VERDICT-r16 item 6: the
    warm-cache methodology must be QUANTIFIED every round, so the bench
    measures one no-table-cache pass after the warm suite)."""
    sess = _session_key(spark)
    for k in [k for k in _warm_cache if k[0] == sess]:
        try:
            _warm_cache[k].unpersist(blocking=True)
        except Exception:
            pass
        del _warm_cache[k]


# Memo of the events.ts physical parquet type ("ns" | "us"), keyed on the
# sniffed files' (path, mtime, size) so an in-process regeneration at the
# SAME path re-sniffs instead of serving a stale classification (ADVICE
# r4). The driver regenerated the corpus between rounds and silently
# switched ts from timestamp[ns] to timestamp[us]; a hard-coded shim then
# produced wrong answers in 17 queries (VERDICT r3). Sniffing the footer
# makes the reader self-correcting, and anything other than ns/us fails
# LOUDLY.
_events_ts_unit: dict[tuple, str] = {}


def _classify_ts(target: str) -> str:
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(target).field("ts").type
    ts_str = str(ts_type)
    # tz-aware (isAdjustedToUTC=true) must NOT silently classify: reading
    # an instant-semantics column with the NTZ schema would shift every
    # wall-clock value — the exact silent-wrong-answer class this sniffer
    # exists to catch.
    tz = getattr(ts_type, "tz", None)
    if ts_str.startswith("timestamp[ns") and tz is None:
        return "ns"
    if ts_str.startswith("timestamp[us") and tz is None:
        return "us"
    raise TypeError(
        f"events.ts at {target} has unexpected physical type {ts_str!r}; "
        "expected tz-naive timestamp[ns] or timestamp[us]. The corpus "
        "schema changed — update registry.SCHEMAS / the read shim "
        "deliberately rather than letting queries return silently wrong "
        "timestamps."
    )


def _sniff_events_ts_unit(path: str) -> str:
    """Read the parquet footer(s) and classify events.ts as 'ns' or 'us'.

    Handles both a single .parquet file and a Spark-written directory of
    part files — EVERY part is sniffed and a mixed-unit directory raises
    (one part read with the wrong shim would silently corrupt a slice of
    the table, the worst failure mode). Raises on any other physical type
    so a future silent corpus change surfaces as one clear error instead
    of hash-mismatched query results.
    """
    import glob

    targets = [path]
    if os.path.isdir(path):
        targets = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not targets:
            raise FileNotFoundError(f"no parquet part files under {path}")
    stats = tuple(
        (t, int(os.path.getmtime(os.path.realpath(t))), os.path.getsize(t))
        for t in targets
    )
    key = (path, stats)
    unit = _events_ts_unit.get(key)
    if unit is not None:
        return unit
    units = {t: _classify_ts(t) for t in targets}
    distinct = set(units.values())
    if len(distinct) > 1:
        raise TypeError(
            f"events parquet at {path} mixes ts units {sorted(distinct)} "
            f"across part files ({units}); a single shim cannot read it "
            "correctly — regenerate the table with one unit."
        )
    unit = distinct.pop()
    _events_ts_unit.clear()  # one live classification per process is enough
    _events_ts_unit[key] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with its declared schema (events get the shim).

    Declaring the read schema (rather than inferring) doubles as column-prune
    enforcement: Catalyst still prunes to referenced columns, and the parquet
    footer is never trusted for types the oracle compares — EXCEPT events.ts,
    where the footer's ns-vs-µs physical unit decides whether the nanos shim
    applies (it must divide only genuine nanoseconds by 1000).
    """
    cached = _warm_cache.get((_session_key(spark), sf_dir.rstrip("/"), name))
    if cached is not None:
        return cached
    _ensure_read_conf(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        if _sniff_events_ts_unit(path) == "ns":
            # NANOS parquet is unreadable by Spark natively; nanosAsLong
            # delivers int64 ns, which we truncate-divide to µs (matches
            # DuckDB's silent ns→µs truncation exactly).
            raw = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
            return raw.withColumn(
                "ts",
                F.expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)"),
            )
        # µs corpus: the declared TimestampNTZType schema reads natively.
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view so the SQL entry point (SURVEY.md
    §3.2 EP2) sees the same post-shim relations as the DataFrame API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)


def warehouse_table_name(sf_dir: str, base: str) -> str:
    """``base`` suffixed per corpus: the sanitised leaf of the corpus dir's
    real path plus 6 hex digits of that path's md5, so one corpus however
    spelled has one table, two dirs with one leaf never share one, and no
    '/' reaches the identifier."""
    canon = os.path.realpath(sf_dir)
    leaf = re.sub(r"[^0-9A-Za-z_]", "_", os.path.basename(canon))
    return f"{base}_{leaf}_{hashlib.md5(canon.encode()).hexdigest()[:6]}"


def warehouse_table(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    df: DataFrame,
    configure: Callable[[DataFrameWriter], DataFrameWriter],
) -> str:
    """The name of the per-corpus warehouse table ``base``
    (``warehouse_table_name``), written from ``df`` as parquet through
    ``configure(df.write)`` unless the session's catalog already has it.

    The write is crash-safe: it goes to ``{name}_w{pid}``, and the final
    name is bound by a rename only once the write has completed, so a run
    killed mid-write leaves at most a stale temp, never a half-written table
    under the final name. A temp whose owner pid is dead is reaped here; a
    live owner's (another process sharing the warehouse) is left alone. The
    final-name directory can outlive its catalog entry (the in-memory catalog
    dies with its session, the directory does not), so it is cleared right
    before the rename."""
    name = warehouse_table_name(sf_dir, base)
    if spark.catalog.tableExists(name):
        return name
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for stale in glob.glob(f"{warehouse}/{name}_w*"):
        try:
            os.kill(int(stale.rsplit("_w", 1)[-1]), 0)
            continue  # owner alive: leave its write alone
        except ValueError:
            pass  # no pid suffix: not a live write's temp
        except ProcessLookupError:
            pass  # owner dead
        except PermissionError:
            continue  # the pid exists under another uid: alive
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{name}_w{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    configure(df.write).mode("overwrite").format("parquet").saveAsTable(tmp)
    shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
    return name


class Tables:
    """Lazy per-query handle: ``t = Tables(spark, sf_dir); t.lineitem ...``.

    Each attribute access builds a fresh DataFrame reader (cheap: plan node
    only). No caching here — operators opt in to ``.cache()`` where reuse
    within one query justifies it.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in SCHEMAS:
            return load_table(self._spark, self._sf_dir, name)
        raise AttributeError(name)
