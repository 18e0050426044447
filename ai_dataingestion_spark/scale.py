"""Scale-safety gates shared by every operator module.

The engine's broadcast policy (SURVEY.md §7.3, VERDICT r6 finding 1):

- ``F.broadcast()`` hints on relations whose size is BOUNDED BY A DIMENSION
  (nation, region, percentile cuts, 1-row totals, per-brand counts) are always
  fine — their cardinality does not grow with the corpus.
- Hints on relations that grow O(corpus) — raw or filtered projections of
  customer / part / supplier / documents — are NOT scale-safe: a static hint
  overrides Catalyst's size check and builds the broadcast unconditionally,
  which is a guaranteed driver/executor OOM once the table is multi-TB.
  (BASELINE.md records a measured driver OOM at 10x sf0.1 from exactly this.)

``broadcast_if_small`` keeps the intent ("this dimension side should be
broadcast when it is provably small") while failing closed: the hint is only
applied when an O(1) driver-side stat of the table's parquet bytes proves the
table is tiny. Anywhere the gate cannot prove smallness — object-store paths,
stat errors, genuinely large tables — the DataFrame is returned UNHINTED and
the production config (autoBroadcastJoinThreshold=64MB + AQE runtime size
check, session.py) decides the join strategy from measured sizes. At test
scale (sf<=0.1, tables KB-MB) the gate passes and plans are byte-identical to
the previously-hinted ones; at lake scale the gate fails closed and Catalyst
picks sort-merge/shuffled-hash as the sizes dictate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mirrors spark.sql.autoBroadcastJoinThreshold (session.py): if the WHOLE
# table's compressed parquet footprint is under this, any projection of it is
# comfortably broadcastable even after decompression (the hinted sites all
# project 2-3 narrow columns).
SMALL_TABLE_BYTES = 64 * 1024 * 1024


def table_bytes_under(sf_dir: str, table: str, limit: int = SMALL_TABLE_BYTES) -> bool:
    """O(1)-ish driver-side gate: True iff ``{sf_dir}/{table}.parquet`` is a
    LOCAL file/dir whose total bytes are provably under ``limit``. Non-local
    paths (s3://, hdfs://...), missing files, and stat failures return False
    — the scale-safe default. The directory walk early-exits at ``limit`` so
    the cost is bounded regardless of table size."""
    # Delegates to table_bytes: missing/non-local/unreadable paths report
    # the cap, and cap < limit is False — the same scale-safe default.
    return table_bytes(sf_dir, table, cap=limit) < limit


def table_bytes(sf_dir: str, table: str, cap: int) -> int:
    """Total on-disk bytes of ``{sf_dir}/{table}.parquet``, walking at most
    until ``cap`` (early exit keeps the driver-side cost bounded). Non-local
    or unreadable paths report ``cap`` — the scale-safe 'assume big'."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isfile(path):
            return min(os.path.getsize(path), cap)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    total += os.path.getsize(os.path.join(root, fname))
                    if total >= cap:
                        return cap
            return total
    except OSError:
        pass
    return cap


def wide_exchange_partitions(
    spark, sf_dir: str, table: str, gate: int
) -> int:
    """Partition count for an explicit pair-explosion exchange (candidate
    self-joins whose output is quadratic in hot-key bucket sizes). AQE
    cannot coalesce an explicit ``repartition()``, so a fixed wide count is
    a cliff just above the gate (ADVICE r7): instead, width scales with the
    bytes/gate ratio as ``base * 2^(floor(log2(ratio)) + 1)`` — 2x the
    session shuffle width AT the gate, then a further doubling per doubling
    of table bytes — capped at 2048. (ADVICE r8: the +1 is deliberate, not
    drift — crossing the gate means the table already outgrew AQE's small
    case, so the first step starts wide; the calibration below depends on
    it.) Returns 0 when the table is under ``gate`` — the caller skips the
    explicit exchange entirely and lets AQE shape the small case.
    (Calibration: documents at the sfx1.0 sweep = 5.3 MB over a 1 MiB gate,
    ratio 5 -> 2^3 = 8x the 32-wide session default = the measured-stable
    256.)"""
    bytes_ = table_bytes(sf_dir, table, cap=2048 * gate)
    if bytes_ < gate:
        return 0
    try:
        base = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" on managed platforms
        base = 200
    width = base
    ratio = bytes_ // gate
    while ratio >= 1 and width < 2048:
        width *= 2
        ratio //= 2
    return min(width, 2048)


def broadcast_if_small(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Broadcast-hint ``df`` (a projection/filter of ``table``) only when the
    table's on-disk bytes prove it is small; otherwise return ``df`` unhinted
    and let the threshold + AQE pick the join strategy at runtime. Use this
    for every O(corpus)-growth table (customer / part / supplier / orders /
    documents); dimension-bounded relations may keep static hints."""
    if table_bytes_under(sf_dir, table):
        return F.broadcast(df)
    return df


# Array-carrying relations (shingle sets, embedding vectors) expand ~100x
# from their compressed parquet bytes — the broadcast OOM measured at the
# sfx1.0 sweep happened at just 5.3 MB of documents parquet. Their gates use
# this limit, not the 64 MiB scalar default.
ARRAY_TABLE_BYTES = 1024 * 1024


def bounded_self_join(
    block: DataFrame,
    keys: list[str],
    id_col: str,
    sf_dir: str,
    table: str,
    *,
    gate: int = SMALL_TABLE_BYTES,
    out: tuple[str, str] = ("id1", "id2"),
    ordered: bool = True,
    spark=None,
    carry: list[str] | None = None,
    per_side: list[str] | None = None,
) -> DataFrame:
    """The engine's ONE candidate-pair generator: self-equi-join ``block``
    (one row per (id, blocking-key) assignment) on ``keys`` and emit
    canonical id pairs — the shared shape behind every blocked/bucketed
    near-dup family (MinHash/LSH bands, simhash chunks, rare shingles,
    fingerprint hashes, orderkey baskets). Work is Σ block-size², never n².

    Unifies the four hand-rolled hot-key guards (VERDICT r7 item 4) into
    one scale posture, each measured at the sfx1.0 sweep:

    - the right side is merge-hinted (sort-merge: the only join strategy
      that spills at every stage) once ``table`` is no longer provably
      under ``gate`` — AQE's compressed-bytes estimate sneaks corpus-sized
      relations under the broadcast threshold, and shuffled-hash's
      per-partition build is non-spillable;
    - below the gate the join stays estimator-driven, so small-SF plans are
      byte-identical to the pre-helper ones (broadcast at bench scale);
    - when ``spark`` is passed, the pair explosion routes through a
      size-tiered wide exchange (``wide_exchange_partitions``) that the
      caller's downstream distinct/groupBy reuses — explosion-stage width
      must scale with fan-out, not sit at the session default.

    ``ordered=True`` emits each unordered pair once (``a < b``);
    ``ordered=False`` emits both directions (``a != b`` — the containment
    shape, where pair roles are asymmetric). Callers apply their own
    verify/dedup on the returned (out[0], out[1]) columns. ``carry``
    (r16) additionally projects the named join-key columns into the
    output — key columns are equal on both sides, so this adds no
    semantics, and lets a caller that fused several configurations into
    one blocked relation recover the configuration id per pair.
    ``per_side`` projects each named non-key column ``c`` of both sides,
    as ``c1`` (the out[0] side) and ``c2`` (the out[1] side), so a caller
    can prefilter on per-document values without joining them back.
    """
    a = block.alias("a")
    b = hint_merge_if_large(block.alias("b"), sf_dir, table, gate)
    cmp = (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        if ordered
        else F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
    )
    pairs = (
        a.join(b, keys)
        .filter(cmp)
        .select(
            F.col(f"a.{id_col}").alias(out[0]),
            F.col(f"b.{id_col}").alias(out[1]),
            *[F.col(f"a.{c}").alias(c) for c in (carry or ())],
            *[
                F.col(f"{side}.{c}").alias(f"{c}{n}")
                for c in (per_side or ())
                for side, n in (("a", 1), ("b", 2))
            ],
        )
    )
    if spark is not None:
        width = wide_exchange_partitions(spark, sf_dir, table, gate)
        if width:
            pairs = pairs.repartition(width, *out)
    return pairs


def basket_pair_explode(
    df: DataFrame,
    basket_key: str,
    item_col: str,
    out: tuple[str, str] = ("id1", "id2"),
) -> DataFrame:
    """Within-basket item pairs (a < b, one row per (basket, pair)) WITHOUT
    a self-join — the optimization-r16 shape for basket-blocked pair
    kernels (guide §2.4 "remove shuffles outright"): the old
    distinct + self-equi-join on the basket key cost an exchange for the
    distinct plus two more for the join; this is ONE partial-aggregable
    groupBy (collect_set state is bounded by basket size) followed by a
    JVM-side combination generator over the sorted item array. Pair
    multiplicity is identical to the DISTINCT-items self-join: each
    unordered item pair appears exactly once per basket, with a < b from
    the sorted array. NULL basket keys and NULL items are excluded exactly
    as the join was (a NULL never equi-joins; a NULL item never passes the
    a < b comparison). Skew posture is unchanged: a pathological mega
    basket lands in one task either way (the join hashed every row of one
    basket key to one partition too) — the generator just reaches the same
    Σ basket² bound without shuffling candidate pairs."""
    baskets = (
        df.where(F.col(basket_key).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(basket_key)
        .agg(F.array_sort(F.collect_set(item_col)).alias("__items"))
    )
    pair_expr = (
        "flatten(transform(__items, (x, i) -> "
        "transform(slice(__items, i + 2, greatest(size(__items) - i - 1, 0)), "
        f"y -> named_struct('{out[0]}', x, '{out[1]}', y))))"
    )
    return baskets.select(F.explode(F.expr(pair_expr)).alias("__p")).select(
        f"__p.{out[0]}", f"__p.{out[1]}"
    )


def hint_array_side(
    df: DataFrame, sf_dir: str, table: str, gate: int = ARRAY_TABLE_BYTES
) -> DataFrame:
    """Join-strategy hint for an array-carrying relation (shingle sets,
    vectors) attached to a candidate-pair stream. Never estimator-driven:
    Catalyst sizes the narrow projection of the cached table and
    under-counts the arrays (measured driver-OOM broadcast at 10x sf0.1).
    Shuffle-hash while the backing table is provably small (no sort, build
    fits comfortably); sort-merge — the only spillable strategy — once it
    is not (SHJ's per-partition build can't spill, measured can't-acquire
    at the sfx1.0 sweep)."""
    if table_bytes_under(sf_dir, table, gate):
        return df.hint("shuffle_hash")
    return df.hint("merge")


def hint_merge_if_large(
    df: DataFrame, sf_dir: str, table: str, limit: int = SMALL_TABLE_BYTES
) -> DataFrame:
    """The mirror image of ``broadcast_if_small`` for corpus x corpus
    joins: hint sort-merge — the only strategy that spills at every stage —
    once ``table`` is no longer provably small, and leave Catalyst free to
    broadcast below that. Rationale (measured at the sfx1.0 sweep): AQE's
    compressed-shuffle-bytes estimate sneaks a 60M-row relation under the
    64MB broadcast threshold and builds a multi-GB heap hash relation
    (OOM), and shuffled-hash's per-partition build is non-spillable
    (can't-acquire). Fail-closed means MERGE here — on non-local paths the
    spillable plan is the safe default."""
    if table_bytes_under(sf_dir, table, limit):
        return df
    return df.hint("merge")
