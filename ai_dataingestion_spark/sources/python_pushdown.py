"""§2.AD round-14 block: Python data source filter pushdown (Spark 4.1,
`DataSourceReader.pushFilters`).

`source_python_datasource` (below) proves the Python Data Source API's
partitioned read path; these operators prove its OPTIMIZER
integration — the Spark 4.1 pushFilters hook that lets a pure-Python
connector receive the query's predicates during planning, absorb the ones
its backing system can evaluate natively, and hand the rest back to Spark:

- a predicate the source ABSORBS shrinks the partition plan itself
  (`partitions()` sees the pushed bounds and never schedules the pruned
  ranges — the tasks don't run slower, they don't exist);
- a predicate the source YIELDS BACK stays a Spark-side Filter, so
  partially-capable connectors remain correct by construction.

This is the 100 TB shape for ingesting from external systems (databases,
object-store catalogs, feature stores): the scan cost of a selective query
must scale with the SELECTED data, not the source's total size, and the
only way a Python connector gets that is the pushdown hook. The oracle
can't see pruning (pushdown is semantically transparent by design), so
correctness is oracle-checked here while the PLAN evidence — partition
counts with/without the filter, residual-Filter presence/absence — is
pinned in tests/test_plans.py, exactly the split VERDICT-r13 item 4 asked
for.

Conf discipline: `spark.sql.python.filterPushdown.enabled` defaults false
in 4.1 and is read at PLANNING time of each action, so a restore-after-
build would silently un-push the filters when the driver later collects
the returned DataFrame. The ops therefore materialize their ONE-ROW
aggregate inside the conf scope (a dimension-bounded collect, the same
class as the registry's other ≤32-row driver fetches) and return it as a
local relation; the conf is save/restored around that scope (ADVICE-r13
pattern)."""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register

_N = 100_000
_PARTS = 16
_LO = 70_000
_HI = 90_000
_SQ_CAP = 6_250_000_000  # sq < this ⇔ k < 79057 (residual-side bound)


def _make_pushdown_source():
    """The connector under test: contiguous range partitions over
    (k, k*k), absorbing >= / < bounds on k in pushFilters and narrowing
    partitions() to the surviving ranges. Everything else — including any
    predicate on sq — is yielded back to Spark as residual."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
    )

    class _PushdownReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 100))
            self.parts = int(options.get("parts", 4))
            self.lo = 0
            self.hi = self.n

        def pushFilters(self, filters):
            # Absorb k-bounds; yield back everything else (the contract:
            # every yielded filter is an input filter BY REFERENCE, and
            # yielded == Spark still evaluates it post-scan).
            for f in filters:
                if isinstance(f, GreaterThanOrEqual) and f.attribute == ("k",):
                    self.lo = max(self.lo, int(f.value))
                elif isinstance(f, LessThan) and f.attribute == ("k",):
                    self.hi = min(self.hi, int(f.value))
                else:
                    yield f

        def partitions(self):
            # Pruning happens HERE: ranges outside [lo, hi) are never
            # planned, so the pushed predicate removes tasks, not rows.
            size = (self.n + self.parts - 1) // self.parts
            out = []
            for i in range(self.parts):
                s, e = i * size, min((i + 1) * size, self.n)
                s, e = max(s, self.lo), min(e, self.hi)
                if s < e:
                    out.append(InputPartition((s, e)))
            return out

        def read(self, part):
            s, e = part.value
            for k in range(s, e):
                yield (k, k * k)

    class RangeSquaresPushdown(DataSource):
        @classmethod
        def name(cls) -> str:
            return "range_squares_pushdown"

        def schema(self) -> str:
            return "k bigint, sq bigint"

        def reader(self, schema):
            return _PushdownReader(self.options)

    return RangeSquaresPushdown


@contextlib.contextmanager
def pushdown_scan(spark: SparkSession, lo: int | None, hi: int | None,
                  sq_cap: int | None = None):
    """Context manager yielding the filtered scan WITH pushdown active
    (spark.sql.python.filterPushdown.enabled saved/restored around the
    scope). Everything that should see pushed filters — the op's
    aggregate collect, the plan-pin tests' getNumPartitions()/plan dumps —
    must run inside the with-block; planning after exit sees the restored
    conf and legitimately un-pushes."""
    spark.dataSource.register(_make_pushdown_source())
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "true")
    try:
        df = (
            spark.read.format("range_squares_pushdown")
            .option("n", str(_N))
            .option("parts", str(_PARTS))
            .load()
        )
        if lo is not None:
            df = df.filter(F.col("k") >= lo)
        if hi is not None:
            df = df.filter(F.col("k") < hi)
        if sq_cap is not None:
            df = df.filter(F.col("sq") < sq_cap)
        yield df
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


@register(
    "source_pyds_filter_pushdown",
    oracle=f"""
WITH g AS (SELECT unnest(generate_series({_LO}, {_HI - 1})) AS k)
SELECT count(*) AS n,
       CAST(sum(k * k) AS BIGINT) AS sum_sq,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM g
""",
)
def source_pyds_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-pushed range read: k >= 70000 AND k < 90000 both absorbed by
    pushFilters, so partitions() plans only the ranges intersecting
    [lo, hi) — 4 of 16 tasks at these constants (partition count and the
    absence of any Spark-side k-bound Filter pinned in
    tests/test_plans.py). The aggregate proves the pruned scan still
    returns exactly the selected rows — min_k/max_k pin both edges of the
    pushed interval. Executed inside the pushdown conf scope and returned
    as a one-row local relation (see module docstring)."""
    with pushdown_scan(spark, _LO, _HI) as df:
        rows = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sq").cast("bigint").alias("sum_sq"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        ).collect()
    return spark.createDataFrame(
        rows, "n bigint, sum_sq bigint, min_k bigint, max_k bigint"
    )


@register(
    "source_pyds_pushdown_residual",
    oracle=f"""
WITH g AS (SELECT unnest(generate_series({_LO}, {_N - 1})) AS k)
SELECT count(*) AS n,
       CAST(sum(k * k) AS BIGINT) AS sum_sq,
       CAST(max(k) AS BIGINT) AS max_k
FROM g WHERE k * k < {_SQ_CAP}
""",
)
def source_pyds_pushdown_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partially-pushed read: the k-bound is absorbed (partitions pruned
    16 → 5) while the sq-bound is YIELDED BACK and must survive as a
    Spark-side Filter — the partially-capable-connector contract. The
    result is correct only if Spark actually re-applies the residual:
    dropping it would inflate n by the sq >= cap rows the planned
    partitions still generate (max_k pins the residual's cut, which lands
    strictly inside a planned partition, not on a partition edge)."""
    with pushdown_scan(spark, _LO, None, sq_cap=_SQ_CAP) as df:
        rows = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sq").cast("bigint").alias("sum_sq"),
            F.max("k").alias("max_k"),
        ).collect()
    return spark.createDataFrame(rows, "n bigint, sum_sq bigint, max_k bigint")


_PYDS_N = 10_000


_PYDS_PARTS = 8


@register(
    "source_python_datasource",
    oracle=f"""
WITH g AS (SELECT unnest(generate_series(0, {_PYDS_N - 1})) AS k)
SELECT count(*) AS n, CAST(sum(k * k) AS BIGINT) AS sum_sq,
       count(DISTINCT k % {_PYDS_PARTS}) AS n_partitions_touched
FROM g
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom connector through Spark 4's Python Data Source API
    (SPARK-44076): a DataSource subclass registered by name, whose
    reader declares 8 InputPartitions and yields rows per partition —
    the extensibility path for ingesting from systems Spark has no
    built-in connector for, WITHOUT touching the JVM. Partition planning
    happens on the driver (the partitions() list); row generation runs
    in executor Python workers in parallel, one task per InputPartition,
    so a real connector shards its remote scan exactly like this. The
    deterministic synthetic payload (k, k²) strided across partitions
    lets the oracle recompute content arithmetically and the
    partition-residue count prove every shard contributed. Registration
    is idempotent per session (re-register overwrites)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangeSquares(DataSource):
        @classmethod
        def name(cls) -> str:
            return "range_squares"

        def schema(self) -> str:
            return "k bigint, sq bigint"

        def reader(self, schema):
            return _SquareReader(self.options)

    class _SquareReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 100))
            self.parts = int(options.get("parts", 4))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, part):
            for k in range(part.value, self.n, self.parts):
                yield (k, k * k)

    spark.dataSource.register(RangeSquares)
    df = (
        spark.read.format("range_squares")
        .option("n", str(_PYDS_N))
        .option("parts", str(_PYDS_PARTS))
        .load()
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").cast("bigint").alias("sum_sq"),
        F.count_distinct(F.col("k") % _PYDS_PARTS).alias(
            "n_partitions_touched"
        ),
    )
