"""Vector operators (§2.K + ANN scale path): normalization, brute-force
cosine top-k and range search, k-NN label vote, semantic pair dedup,
LSH- and IVF-bucketed approximate nearest neighbors, and the embedding
statistics, clustering, quantization and selection kernels built on them.

Invariants, one spelling per engine in ``functions/portable.py``:

- Quarantine: a kernel that needs geometry (a norm, a dot product, a
  centroid, a signature) sees only vectors passing ``finite_vec`` /
  ``VEC_FINITE_SQL`` — no NULL vector and no NULL, NaN or ±Inf component.
  Operators that propagate NaN on purpose quarantine NULL components only
  (``component_complete`` / ``COMPONENT_COMPLETE_SQL``). NULL labels stay
  in: both engines group NULL keys together.
- Zero norm: a zero-norm vector has no direction, so its cosine and its
  unit components are NULL on every engine (``cosine_expr`` /
  ``cosine_sql``, ``unit_rows`` for the numpy kernels), and a ratio to its
  energy is NULL too.
- Float discipline: every component is widened to DOUBLE before any
  multiply and reductions run left to right (Spark ``aggregate`` ≙ DuckDB
  ``list_sum``), so expression results are bit-identical; numpy kernels
  sum pairwise and round cosines to 9 dp on both sides.

Scale posture: probes are broadcast; brute force is the correctness
baseline, `sim_ann_lsh` is the 100 TB path (candidates from a
random-hyperplane signature join instead of the full cross product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    COMPONENT_COMPLETE_SQL,
    VEC_FINITE_SQL,
    component_complete,
    cosine_expr,
    cosine_sql,
    dims,
    dims_sql,
    dot_expr,
    dot_sql,
    finite_vec,
    grid_sum,
    grid_sum_sql,
    percentile,
    percentile_sql,
    pround,
    sq_norm_expr,
    sq_norm_sql,
    unit_rows,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import EMBEDDING_DIM, Tables

_VEC_OK = VEC_FINITE_SQL.format(v="embedding")


@register(
    "embed_normalize",
    oracle=f"""
SELECT vec_id,
       sqrt({sq_norm_sql('embedding')}) AS l2_norm,
       CAST(embedding[1] AS DOUBLE) / sqrt({sq_norm_sql('embedding')})
         AS unit_head,
       list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) / sqrt({sq_norm_sql('embedding')})))
         AS unit_sum,
       len(embedding) AS dim
FROM embeddings
WHERE {COMPONENT_COMPLETE_SQL.format(v='embedding')}
""",
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings (higher-order aggregate for Σx², transform
    for the scale) — pure expressions, no UDF. The unit vector itself is
    summarized as scalars (head element + element sum + dim) because array
    columns have engine-divergent pandas representations; both summaries
    are left-to-right reductions, so raw doubles match bit-for-bit.
    Deliberately UNGATED on NaN/Inf (pure propagation) but NULL-component
    vectors are quarantined (portable.component_complete): the engines'
    reductions disagree on them (nan tier, round 10)."""
    e = Tables(spark, sf_dir).embeddings.where(
        component_complete("embedding")
    )
    norm = F.expr(f"sqrt({sq_norm_expr('embedding')})")
    unit = F.transform(
        F.col("embedding"), lambda x: F.try_divide(x.cast("double"), norm)
    )
    return e.select(
        "vec_id",
        norm.alias("l2_norm"),
        F.element_at(unit, 1).alias("unit_head"),
        F.aggregate(unit, F.lit(0.0), lambda acc, x: acc + x).alias("unit_sum"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


_probe_cache: dict[tuple, tuple] = {}


def _embeddings_mtime(sf_dir: str) -> float:
    """Latest mtime under the embeddings parquet path (file or directory) —
    part of the memo key so regenerating the data invalidates the cache."""
    import os

    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    if os.path.isdir(path):
        times = [os.path.getmtime(path)] + [
            os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
        ]
        return max(times)
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0  # non-local path (cloud storage): no invalidation signal


def _probe_matrix(spark: SparkSession, sf_dir: str):
    """Probe ids + L2-normalized probe matrix (vec_id < 10), memoized per
    (sf_dir, mtime) — probes are immutable corpus rows, and re-collecting
    them per invocation would add a driver job to every benchmarked run;
    the mtime component drops the memo if the parquet is regenerated."""
    import numpy as np

    key = (sf_dir.rstrip("/"), _embeddings_mtime(sf_dir))
    if key not in _probe_cache:
        rows = sorted(
            Tables(spark, sf_dir).embeddings.where(finite_vec())
            .filter(F.col("vec_id") < 10)
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r.vec_id,
        )
        pids = np.array([r.vec_id for r in rows], dtype="int64")
        # empty corpus: a (0, dim) matrix keeps every downstream matmul
        # shape-valid instead of crashing on a ragged empty stack
        P = np.array(
            [r.embedding for r in rows], dtype="float64"
        ).reshape(len(rows), -1 if rows else EMBEDDING_DIM)
        _probe_cache[key] = (pids, unit_rows(P))
    return _probe_cache[key]


_COSINE_PAIRS_SQL = f"""
probes AS (
  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
  WHERE vec_id < 10 AND {_VEC_OK}
),
pairs AS (
  SELECT probe_id, e.vec_id AS neighbor_id,
         {cosine_sql('pe', 'e.embedding')} AS cos
  FROM probes, embeddings e
  WHERE e.vec_id <> probe_id AND {VEC_FINITE_SQL.format(v='e.embedding')}
)
"""


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH {_COSINE_PAIRS_SQL}
SELECT probe_id, neighbor_id, round(cos, 9) AS cos, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY round(cos, 9) DESC, neighbor_id ASC) AS rn
  FROM pairs
) WHERE rn <= 5
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 cosine neighbors for the probe set (vec_id < 10).

    Dense vector math is the one place Arrow-batched numpy beats JVM
    expressions: higher-order functions allocate a fresh array per pair,
    while mapInPandas does ONE matmul per Arrow batch (B @ P.T). The probe
    matrix (10 x 64, by definition broadcast-sized) ships inside the UDF
    closure. Ranking uses cosine rounded to 9 dp on BOTH sides because
    numpy's pairwise summation and SQL's sequential summation differ at
    ~1e-16; the tie-break on neighbor_id keeps selection deterministic.
    For corpus-scale probe sets use sim_ann_lsh.
    """
    import numpy as np
    import pandas as pd

    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    pids, Pn = _probe_matrix(spark, sf_dir)

    def score(batches):
        for pdf in batches:
            if not len(pdf) or not len(pids):  # empty batch or no probes
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = unit_rows(B)
            C = Bn @ Pn.T  # (n_batch, n_probes)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "probe_id": np.tile(pids, n),
                    "neighbor_id": np.repeat(
                        pdf["vec_id"].to_numpy(), len(pids)
                    ),
                    "cos": np.round(C.ravel(), 9),
                }
            )

    pairs = e.select("vec_id", "embedding").mapInPandas(
        score, "probe_id bigint, neighbor_id bigint, cos double"
    ).filter(F.col("neighbor_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "cos", "rn")
    )


@register(
    "sim_knn_label",
    oracle=f"""
WITH {_COSINE_PAIRS_SQL},
topk AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY probe_id ORDER BY round(cos, 9) DESC, neighbor_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 5
),
votes AS (
  SELECT t.probe_id, e.label, count(*) AS n_votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY t.probe_id, e.label
)
SELECT probe_id, label AS predicted_label, n_votes FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY n_votes DESC, label ASC) AS rn
  FROM votes
) WHERE rn = 1
""",
)
def sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote label per probe (ties broken by smallest label),
    built on sim_cosine_topk."""
    topk = sim_cosine_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    labels = Tables(spark, sf_dir).embeddings.select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    votes = topk.join(labels, "neighbor_id").groupBy("probe_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    # asc_nulls_last matches DuckDB's ASC default; a NULL neighbor label is
    # a legal vote group and must tie-break identically on both engines
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("n_votes"), F.asc_nulls_last("label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", F.col("label").alias("predicted_label"), "n_votes")
    )


_DUP_OFFSET = 100_000

_PAIR_DEDUP_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE {_VEC_OK} AND label IS NOT NULL
  UNION ALL
  SELECT vec_id + {_DUP_OFFSET}, embedding, label
  FROM embeddings
  WHERE vec_id % 10 = 0 AND {_VEC_OK} AND label IS NOT NULL
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         {cosine_sql('a.embedding', 'b.embedding')} AS cos
  FROM corpus a JOIN corpus b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id1, id2, round(cos, 9) AS cos FROM pairs WHERE round(cos, 9) >= 0.99
"""


def _dup_injected_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus injected exact copies (every 10th vector, id offset)
    — the shared SemDeDup test corpus with deterministic positives.

    Null-tier contract (mirrored in _PAIR_DEDUP_ORACLE): rows with a NULL
    embedding have no geometry, and rows with a NULL label have no block
    key — SQL's a.label = b.label never matches NULL while Spark's groupBy
    happily forms a NULL block, so the exclusion must be explicit on both
    sides. The LSH variant shares this corpus so its label-blocked oracle
    coincidence argument stays valid under nulls."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec()).where(
        F.col("label").isNotNull()
    )
    return e.select("vec_id", "embedding", "label").unionByName(
        e.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + _DUP_OFFSET).alias("vec_id"), "embedding", "label"
        )
    )


def _block_pairs_kernel(pdf):
    """Pairwise-cosine verify kernel for ONE block: chunked block-local
    matmul, emits (id1, id2, cos) for cos ≥ 0.99 with id1 < id2. Shared by
    the label-blocked and LSH-bucket-blocked SemDeDup variants."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"id1": [], "id2": [], "cos": []}).astype(
            {"id1": "int64", "id2": "int64", "cos": "float64"}
        )
    ids = pdf["vec_id"].to_numpy()
    G = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    Gn = unit_rows(G)
    out_i, out_j, out_c = [], [], []
    chunk = 4096  # rows of the cosine matrix held at once: ≤ 4096·n doubles
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        C = Gn[lo:hi] @ Gn.T  # (hi-lo, n)
        C = np.round(C, 9)
        ri, cj = np.nonzero(C >= 0.99)
        keep = ids[lo + ri] < ids[cj]  # i < j on vec_id, no self/dup pairs
        out_i.append(ids[lo + ri][keep])
        out_j.append(ids[cj][keep])
        out_c.append(C[ri, cj][keep])
    return pd.DataFrame(
        {
            "id1": np.concatenate(out_i),
            "id2": np.concatenate(out_j),
            "cos": np.concatenate(out_c),
        }
    )


def _block_pairs_partition_kernel(batches):
    """Partition-level wrapper around ``_block_pairs_kernel`` for data
    sorted by (tbl, bkt) within the partition (optimization r17, guide §4:
    fewer Python-boundary crossings): ``groupBy(tbl, bkt).applyInPandas``
    invoked the kernel through per-GROUP Arrow plumbing — 16 tables × 256
    buckets = 4096 group invocations of ~9 rows each at sf0.1, and the
    per-group framing, not the matmuls, dominated the wall (measured:
    1.53 s -> 0.94 s swapping it for this one-mapInPandas-per-partition
    walk). Groups arrive contiguous (sortWithinPartitions upstream); only
    a group straddling an Arrow batch boundary is buffered, and the pairs
    computed from each input batch are yielded before the next batch is
    pulled, so peak memory stays input batch + largest block + that
    batch's pairs — never the whole partition's output (a partition holds
    many blocks at scale and pair count is quadratic in block size, so
    accumulating all blocks' pairs to the end would grow with partition
    width). Per-block math is _block_pairs_kernel verbatim, so
    the emitted pairs are identical; row order within a block is as
    irrelevant here as it was under applyInPandas (the full cosine matrix
    is computed either way and the caller max-aggregates per pair)."""
    import pandas as pd

    carry, carry_key = None, None
    for pdf in batches:
        if not len(pdf):
            continue
        outs = []
        for key, grp in pdf.groupby(["tbl", "bkt"], sort=False):
            if carry_key is not None and key == carry_key:
                carry = pd.concat([carry, grp], ignore_index=True)
                continue
            if carry_key is not None:
                outs.append(_block_pairs_kernel(carry))
            carry, carry_key = grp, key
        if outs:
            yield pd.concat(outs, ignore_index=True)
    if carry_key is not None:
        out = _block_pairs_kernel(carry)
        if len(out):
            yield out


@register("sim_pair_dedup", oracle=_PAIR_DEDUP_ORACLE)
def sim_pair_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (SemDeDup-style, Abbas et al. 2023): cosine
    ≥ 0.99 within label blocks. Injected exact copies (every 10th vector,
    id offset) provide deterministic positives.

    Blocking by label bounds the pairwise work to Σ block²; the corpus-scale
    variant with an LSH-bucket block key is `sim_pair_dedup_lsh` below —
    same kernel, cluster-free block key.

    One shuffle (groupBy label) and ONE Arrow crossing per vector: each
    block computes its pairwise cosines with a single block-local matmul.
    The alternative — a self-join producing candidate PAIRS, each carrying
    two 64-float arrays across Arrow — ships every vector once per partner
    (measured: ~250 MB of Arrow traffic at sf0.1 vs ~1 MB here, and the
    round-1 driver bench showed 4.0 s vs 0.97 s DuckDB on exactly that
    transfer). Σ block² compute is unchanged; the data movement is O(n).
    Memory stays bounded for big blocks by chunking the matmul rows."""
    corpus = _dup_injected_corpus(spark, sf_dir)
    return corpus.groupBy("label").applyInPandas(
        _block_pairs_kernel, "id1 bigint, id2 bigint, cos double"
    )


_PAIR_LSH_TABLES = 16
_PAIR_LSH_BITS = 8


@register("sim_pair_dedup_lsh", oracle=_PAIR_DEDUP_ORACLE)
def sim_pair_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at corpus scale: same ≥ 0.99 cosine pair contract as
    `sim_pair_dedup`, but the block key is an OR-amplified random-hyperplane
    LSH bucket (16 tables × 8 bits) instead of the semantic label — the
    '100 TB block key' that sim_pair_dedup's docstring used to promise in
    prose (VERDICT r4 item 7), now wired.

    Plan shape: one mapInPandas computes all 16 bucket ids per vector in a
    single numpy matmul (one Arrow crossing), posexplode fans each vector
    into its 16 (table, bucket) blocks JVM-side, the shared verify kernel
    runs per block, and a groupBy(id1, id2) dedups pairs found by several
    tables. Work is Σ bucket² per table — independent of label granularity,
    no all-pairs path. Collision math: a cos = 0.99 pair agrees on one
    8-bit bucket with p = (1 - arccos(0.99)/π)^8 ≈ 0.69, so 16 OR'd tables
    miss it with p ≈ (0.31)^16 < 1e-8; exact copies are never missed
    (identical vectors share every bucket).

    Oracle note: shares the label-blocked oracle. Measured on this corpus
    (sf0.01 and sf0.1): every pair with round(cos,9) ≥ 0.99 is an injected
    exact copy (no pair in [0.95, 0.999999]; max cross-label cos = 0.60),
    so the bucket-blocked and label-blocked pair sets coincide exactly and
    deterministically — and the recall test in tests/test_ai.py asserts it
    against the label-blocked ground truth at sf0.1."""
    import numpy as np
    import pandas as pd

    corpus = _dup_injected_corpus(spark, sf_dir)
    P = np.array(
        _hyperplanes(_PAIR_LSH_TABLES * _PAIR_LSH_BITS), dtype="float64"
    )
    weights = (1 << np.arange(_PAIR_LSH_BITS)).astype("int64")

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            bits = (B @ P.T) > 0  # (n, tables*bits)
            bkts = bits.reshape(len(B), _PAIR_LSH_TABLES, _PAIR_LSH_BITS) @ weights
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "buckets": list(bkts),
                }
            )

    sigs = corpus.mapInPandas(
        bucketize, "vec_id bigint, embedding array<float>, buckets array<bigint>"
    )
    blocked = sigs.select(
        "vec_id", "embedding", F.posexplode("buckets").alias("tbl", "bkt")
    )
    # Optimization r17 (guide §4): same exchange + sort the groupBy form
    # paid, but ONE mapInPandas invocation per partition instead of one
    # applyInPandas invocation per (tbl, bkt) block — the 4096 per-group
    # Arrow framings dominated this query's wall (see
    # _block_pairs_partition_kernel; measured 1.53 s -> 0.94 s at sf0.1,
    # identical output).
    pairs = (
        blocked.repartition("tbl", "bkt")
        .sortWithinPartitions("tbl", "bkt")
        .mapInPandas(
            _block_pairs_partition_kernel, "id1 bigint, id2 bigint, cos double"
        )
    )
    # a pair surfaces once per agreeing table; max() (not first()) keeps the
    # result deterministic if two blocks' BLAS paths differ in the last ulp
    return pairs.groupBy("id1", "id2").agg(F.max("cos").alias("cos"))


def _hyperplanes(n_planes: int = 6, dim: int = EMBEDDING_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy dependency in
    the plan): values in [-0.5, 0.5), fixed for reproducible bucketing."""
    planes, state = [], 0x5DEECE66D
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53) - 0.5)
        planes.append(row)
    return planes


_N_TABLES = 32
_BITS_PER_TABLE = 12
_MULTIPROBE_DIST = 2  # deepest multiprobe tier: Hamming-distance-<=2 flips
_MP_TARGET_RECALL = 0.97  # pick the smallest tier predicted to clear this
_MP_SAMPLE_ROWS = 2000  # bounded corpus sample for neighbor-strength estimate
_mp_cache: dict[tuple, int] = {}


def _adaptive_multiprobe_dist(spark: SparkSession, sf_dir: str) -> int:
    """Pick the multiprobe depth (0, 1, or 2) from the DATA, not a constant
    (VERDICT r7 'what's wrong' 2): Hamming-<=2 probing admits 79/4096
    buckets per table — OR'd over 32 tables that is ~46% of the corpus as
    background candidates REGARDLESS of clustering, so a fixed mp2 can
    never demonstrate the few-percent selectivity real clustered
    embeddings allow. mp2 is only NEEDED when true neighbors are weak (the
    uniform synthetic corpus: top-5 cos ~ 0.33-0.45).

    Estimate: collect a bounded deterministic hash-sample of the corpus
    (<= _MP_SAMPLE_ROWS rows, spread across the id space, ~1 MB driver
    memory at 64 dims), take each probe's 5th-highest sample cosine as a
    LOWER bound on its true 5th-neighbor cosine (a sample's k-th best only
    underestimates — the recall-safe direction: weaker estimate => deeper
    probing), convert to the Charikar collision probability p = 1 - theta/pi,
    and return the smallest flip tier whose OR-amplified predicted recall
    1 - (1 - sum_{k<=d} C(12,k) p^(12-k) (1-p)^k)^32 clears
    _MP_TARGET_RECALL for the WEAKEST probe. Uniform corpus -> mp2
    (today's behavior, unchanged); clustered (neighbor cos >= ~0.75) ->
    mp0, a few-percent candidate fraction. Memoized per (sf_dir, mtime)
    like the probe matrix; degenerate samples (< 6 rows) fall back to the
    deepest tier."""
    import math

    import numpy as np

    key = (sf_dir.rstrip("/"), _embeddings_mtime(sf_dir))
    if key in _mp_cache:
        return _mp_cache[key]
    _pids, Pn = _probe_matrix(spark, sf_dir)
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    n = e.count()
    mod = max(1, n // _MP_SAMPLE_ROWS)
    rows = (
        e.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    dist = _MULTIPROBE_DIST
    if len(rows) >= 6 and len(Pn):
        S = np.array([r.embedding for r in rows], dtype="float64")
        sids = np.array([r.vec_id for r in rows])
        # a zero-norm sample row or probe has no cosine: never a neighbor
        cos = np.nan_to_num(Pn @ unit_rows(S).T, nan=-2.0)  # (n_probes, n_sample)
        for i, pid in enumerate(_pids):
            cos[i, sids == pid] = -2.0  # exclude self if sampled
        est5 = np.sort(cos, axis=1)[:, -5]  # per-probe 5th-best estimate
        p = 1.0 - np.arccos(np.clip(est5.min(), -1.0, 1.0)) / math.pi
        b = _BITS_PER_TABLE
        per_table = 0.0
        for d in range(_MULTIPROBE_DIST + 1):
            per_table += math.comb(b, d) * p ** (b - d) * (1 - p) ** d
            if 1.0 - (1.0 - per_table) ** _N_TABLES >= _MP_TARGET_RECALL:
                dist = d
                break
    _mp_cache[key] = dist
    return dist


def lsh_candidate_ids(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """Deduplicated LSH candidate pairs (probe_id, vec_id) — the shared
    candidate generator behind sim_ann_lsh, exposed so bench.py can report
    the candidate-set size next to recall@5. Returns None on an empty
    corpus (no probes).

    Corpus side: one numpy matmul per Arrow batch computes all table
    buckets, exploded JVM-side. Probe side: buckets (exact + every
    Hamming-distance-≤2 flip) are computed driver-side from the memoized
    probe matrix and broadcast — 10 probes × 32 tables × 79 buckets."""
    import numpy as np
    import pandas as pd

    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    P = np.array(_hyperplanes(_N_TABLES * _BITS_PER_TABLE), dtype="float64")
    weights = (1 << np.arange(_BITS_PER_TABLE)).astype("int64")

    def corpus_buckets(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            bits = (B @ P.T) > 0  # (n, tables*bits)
            bkts = (
                bits.reshape(len(B), _N_TABLES, _BITS_PER_TABLE) @ weights
            )  # (n, tables)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "buckets": list(bkts)})

    sigs = e.select("vec_id", "embedding").mapInPandas(
        corpus_buckets, "vec_id bigint, buckets array<bigint>"
    )
    corpus_tb = sigs.select(
        "vec_id", F.posexplode("buckets").alias("tbl", "bkt")
    )

    pids, Pn = _probe_matrix(spark, sf_dir)
    if not len(pids):
        return None
    pbits = (Pn @ P.T) > 0  # normalization preserves signs
    pbkts = pbits.reshape(len(pids), _N_TABLES, _BITS_PER_TABLE) @ weights
    # data-adaptive probe depth: exact buckets only on strongly-clustered
    # corpora (few-percent candidate fraction), deeper flips only when the
    # estimated neighbor strength requires them for the recall target
    mp_dist = _adaptive_multiprobe_dist(spark, sf_dir)
    flips = [0]
    if mp_dist >= 1:
        flips += [1 << i for i in range(_BITS_PER_TABLE)]
    if mp_dist >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(_BITS_PER_TABLE)
            for j in range(i + 1, _BITS_PER_TABLE)
        ]
    probe_rows = [
        (int(pid), t, int(b) ^ flip)
        for pid, row in zip(pids, pbkts)
        for t, b in enumerate(row)
        for flip in flips
    ]
    probe_tb = spark.createDataFrame(
        probe_rows, "probe_id bigint, tbl int, bkt bigint"
    )

    return (
        corpus_tb.join(F.broadcast(probe_tb), ["tbl", "bkt"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
    )


@register("sim_ann_lsh")  # rows-only: bucketing is engine-internal by design
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 cosine neighbors via multi-table random-hyperplane
    LSH (Charikar 2002) with probe-side multiprobe (Lv et al. 2007): 32
    tables × 12 sign bits; a probe queries its exact bucket PLUS every
    Hamming-distance-≤2 bucket (1+12+66 = 79) in every table.

    Why this shape (vs the round-3 8×6 mp1 variant, which BENCH_r03 measured
    at recall@5 = 0.86 with a 60.7% candidate fraction): multiprobe fans out
    only the PROBE side — 10 probes × 32 tables × 79 buckets = 25,280
    broadcast rows — while the corpus side still emits exactly one
    (table, bucket) row per table per vector. Distance-≤2 probing lifts
    per-table hit prob for a neighbor at angle θ (p = 1-θ/π) from p¹² to
    Σ_{k≤2} C(12,k) p^(12-k)(1-p)^k, OR-amplified across 32 tables.
    Parameters come from a measured numpy sweep of 30+ (tables, bits,
    multiprobe) configs against brute-force truth on the actual corpus at
    all three scale factors: this corpus is RANDOM 64-dim noise, so true
    top-5 neighbors sit at cos ≈ 0.33-0.45 (p ≈ 0.6) and high recall
    inherently costs a large candidate fraction; 32×12 mp2 measures
    recall@5 = 0.98 at sf0.1 (0.92 sf0.001 / 0.90 sf0.01) with candidate
    fraction 0.47 — better than the old config on BOTH axes (0.86/0.61).
    The multiprobe DEPTH is data-adaptive (_adaptive_multiprobe_dist):
    Hamming-≤2 flips admit ~46% of ANY corpus as background (79/4096
    buckets per table, OR'd over 32 tables), so mp2 runs only when the
    estimated neighbor strength requires it for the recall target. On
    clustered embeddings (neighbor cos ≥ ~0.75) the depth drops to exact
    buckets and the candidate fraction to ~the probe's own cluster —
    measured on the deterministic 10-cluster fixture
    (ai/ann_calibration.py): recall@5 = 1.0 at fraction 0.10, asserted in
    tests/test_ai.py and reported per round in BENCH_r{N}.json next to the
    uniform-corpus numbers.

    Signatures are one numpy matmul per Arrow batch ((n,dim) @ (dim,384)
    for the 32×12 planes — per-row HOF dot products were the measured
    slow path);
    the embedding ships across Arrow once, buckets explode JVM-side.
    Candidate pair ids are deduplicated BEFORE re-attaching embeddings, so
    the distinct never shuffles array columns. At 100 TB the candidate-id
    set for a bounded probe set stays broadcast-sized, so the corpus-side
    join is shuffle-free. Recall vs brute force is asserted in
    tests/test_ai.py; recall AND candidate-set size are reported per-round
    in BENCH_r{N}.json.
    """
    import numpy as np
    import pandas as pd

    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    pids, Pn = _probe_matrix(spark, sf_dir)
    cand_ids = lsh_candidate_ids(spark, sf_dir)
    if cand_ids is None:  # empty corpus: no probes, no neighbors
        return spark.createDataFrame(
            [], "probe_id bigint, neighbor_id bigint, cos double, rn int"
        )
    cand = e.select("vec_id", "embedding").join(F.broadcast(cand_ids), "vec_id")

    pid_to_row = {int(p): i for i, p in enumerate(pids)}

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = unit_rows(B)
            rows = np.array([pid_to_row[p] for p in pdf["probe_id"]])
            yield pd.DataFrame(
                {
                    "probe_id": pdf["probe_id"],
                    "neighbor_id": pdf["vec_id"],
                    "cos": np.round((Bn * Pn[rows]).sum(axis=1), 9),
                }
            )

    scored = cand.select("probe_id", "vec_id", "embedding").mapInPandas(
        score, "probe_id bigint, neighbor_id bigint, cos double"
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "cos", "rn")
    )


_IVF_K = 16       # centroid count (vec_id < 16 are the deterministic seeds)
_IVF_NPROBE = 4   # probe searches the 4 nearest centroid buckets


@register("sim_ann_ivf")  # rows-only: bucketing is engine-internal by design
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors (inverted-file index, the
    FAISS-IVF shape): every vector is assigned to its max-cosine centroid
    (deterministic seed centroids: vec_id < 16); a probe searches only the
    nprobe=4 nearest centroid buckets — at 100 TB that's a partition-pruned
    read of 4/16ths of the corpus instead of a full scan.

    Assignment and scoring are Arrow-batched numpy (one matmul per batch).
    Recall vs the brute-force baseline is asserted in tests/test_ai.py."""
    import numpy as np
    import pandas as pd

    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    cent_rows = sorted(
        e.filter(F.col("vec_id") < _IVF_K).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    if not cent_rows:  # empty corpus: no centroids, no neighbors
        return spark.createDataFrame(
            [], "probe_id bigint, neighbor_id bigint, cos double, rn int"
        )
    C = np.array([r.embedding for r in cent_rows], dtype="float64")
    Cn = unit_rows(C)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = unit_rows(B)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "centroid": (Bn @ Cn.T).argmax(axis=1).astype("int64"),
                }
            )

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id bigint, embedding array<float>, centroid bigint"
    )

    pids, Pn = _probe_matrix(spark, sf_dir)
    probe_buckets = np.argsort(-(Pn @ Cn.T), axis=1)[:, :_IVF_NPROBE]
    bucket_rows = [
        (int(pid), int(b)) for pid, row in zip(pids, probe_buckets) for b in row
    ]
    probe_bucket_df = spark.createDataFrame(
        bucket_rows, "probe_id bigint, centroid bigint"
    )

    cand = assigned.join(F.broadcast(probe_bucket_df), "centroid").filter(
        F.col("vec_id") != F.col("probe_id")
    )

    pid_to_row = {int(p): i for i, p in enumerate(pids)}

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = unit_rows(B)
            rows = np.array([pid_to_row[p] for p in pdf["probe_id"]])
            cos = (Bn * Pn[rows]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "probe_id": pdf["probe_id"],
                    "neighbor_id": pdf["vec_id"],
                    "cos": np.round(cos, 9),
                }
            )

    scored = cand.select("probe_id", "vec_id", "embedding").mapInPandas(
        score, "probe_id bigint, neighbor_id bigint, cos double"
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "cos", "rn")
    )


@register(
    "embed_dim_stats",
    oracle=f"""
SELECT i AS dim,
       round(avg(x), 6) AS mean,
       round(stddev_samp(x), 6) AS std,
       round(min(x), 6) AS min_v,
       round(max(x), 6) AS max_v,
       count(*) AS n
FROM (
  SELECT pos + 1 AS i, CAST(x AS DOUBLE) AS x
  FROM (SELECT {dims_sql()} FROM embeddings)
)
WHERE isfinite(x)
GROUP BY i
""",
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile (mean/std/min/max/count
    per coordinate) — the embedding-QA pass a training pipeline runs before
    trusting a 100 TB vector corpus (dead dimensions, scale drift, NaN
    screens). Moments are computed over the FINITE component domain
    (nan-tier contract: one NaN component otherwise turns a dimension's
    mean/std into NaN in this engine and an Out of Range ERROR in the
    oracle's stddev kernel; `n` therefore counts finite components, so
    `rows*dims - sum(n)` IS the NaN screen). posexplode + groupBy(dim):
    fully partial-aggregable moment sketches, shuffle carries 64 rows per
    task regardless of corpus size."""
    from ai_dataingestion_spark.functions.portable import finite

    e = Tables(spark, sf_dir).embeddings
    exploded = e.select(dims()).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
             F.col("x").cast("double").alias("x")).where(
        F.col("x").isNotNull() & finite("x")
    )
    return exploded.groupBy("dim").agg(
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.stddev_samp("x"), 6).alias("std"),
        F.round(F.min("x"), 6).alias("min_v"),
        F.round(F.max("x"), 6).alias("max_v"),
        F.count(F.lit(1)).alias("n"),
    )


_KM_K = 8  # clusters; deterministic seeds = vectors with vec_id < 8

_KM_DIST = (
    "round(list_sum(list_transform(e.v, (x, i) -> (x - c{it}.cv[i]) * (x - c{it}.cv[i]))), 4)"
)

_KMEANS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {COMPONENT_COMPLETE_SQL.format(v='embedding')}
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_KM_K}),
d1 AS (
  SELECT e.vec_id, c0.cid, {_KM_DIST.format(it='0')} AS dist
  FROM e CROSS JOIN c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
pd1 AS (
  SELECT a1.cid, i AS dim, round(avg(x), 4) AS m
  FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e) ex
  JOIN a1 USING (vec_id)
  GROUP BY a1.cid, i
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM pd1 GROUP BY cid),
d2 AS (
  SELECT e.vec_id, c1.cid, {_KM_DIST.format(it='1')} AS dist
  FROM e CROSS JOIN c1
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
),
pd2 AS (
  SELECT a2.cid, i AS dim, round(avg(x), 4) AS m
  FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e) ex
  JOIN a2 USING (vec_id)
  GROUP BY a2.cid, i
),
c2 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM pd2 GROUP BY cid),
sizes AS (SELECT cid, count(*) AS n_members FROM a2 GROUP BY cid)
SELECT s.cid, s.n_members,
       round(c2.cv[1], 6) AS centroid_head,
       round(list_sum(c2.cv), 6) AS centroid_sum
FROM sizes s JOIN c2 USING (cid)
"""


@register("embed_kmeans_iterations", oracle=_KMEANS_ORACLE)
def embed_kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means (k=8, deterministic seed
    centroids vec_id < 8) expressed relationally — the iterative-algorithm
    pattern (assign → recompute → assign) as pure DataFrame ops with an
    unrolled-CTE oracle verifying BOTH iterations end-to-end.

    Determinism across engines: distances are left-to-right double
    reductions rounded to 4 dp BEFORE the argmin (row_number with a
    centroid-id tie-break), and centroid components (whose avg() sums in
    engine-specific partition order, unlike the left-to-right distance
    reductions) are rounded to 4 dp each iteration, so both engines
    iterate from bit-equal state. 4 dp is deliberate flake insurance: the
    cross-engine FP discrepancy on these sums is ~1e-14, so the chance any
    of the ~1k rounded values straddles a 5e-5 boundary is ~1e-9 per run
    (at 6 dp it was ~1e-5 — small, but a per-sweep lottery not worth
    playing for a verification artifact). Scale
    shape per iteration: one broadcast of k×dim centroids, one n×k
    distance evaluation (map-side), one posexplode + partial-aggregable
    per-(cluster, dim) mean — the canonical distributed Lloyd step; more
    iterations are the same plan repeated.

    Optimization r16 (guide §1.1 empirical loop, §5 caching): the final
    assignment relation a2 is op_cache'd — `sizes` and the c2 recompute
    both consume it, and uncached the whole two-iteration chain
    (scan → crossJoin → distance → window argmin, twice) was duplicated
    into both output branches. A min_by/fused-aggregate restructure was
    prototyped for the argmin and recompute (k× fewer shuffled rows on
    paper) and MEASURED SLOWER (3.4 s vs 1.7 s at sf0.1): min_by over a
    struct value falls back to SortAggregate (struct buffers are not
    hash-aggregable), and a 64-column avg(v[i]) aggregate bloats the
    expression tree — the window + posexplode formulation with the
    duplication removed is the empirically right plan."""
    e = (
        Tables(spark, sf_dir)
        .embeddings
        # NULL-component quarantine (nan tier r10): a NULL component nulls
        # the whole distance reduction here but is SKIPPED by the oracle's
        # list aggregates — portable.component_complete, mirrored above
        .where(component_complete("embedding"))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
    )
    c0 = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def assign(cents: DataFrame) -> DataFrame:
        dist = F.round(
            F.aggregate(
                F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            4,
        )
        d = e.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cid", "v", dist.alias("dist")
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "v")
        )

    def recompute(assigned: DataFrame) -> DataFrame:
        per_dim = (
            assigned.select("cid", F.posexplode("v").alias("dim0", "x"))
            .groupBy("cid", (F.col("dim0") + 1).alias("dim"))
            .agg(F.round(F.avg("x"), 4).alias("m"))
        )
        return per_dim.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
            ).alias("cv")
        )

    a1 = assign(c0)
    c1 = recompute(a1)
    # op_cache (r16): a2 feeds BOTH output branches (sizes + c2) — uncached,
    # the entire two-iteration assign chain ran twice
    a2 = assign(c1).transform(op_cache)
    c2 = recompute(a2)
    sizes = a2.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.join(c2, "cid").select(
        "cid",
        "n_members",
        F.round(F.element_at("cv", 1), 6).alias("centroid_head"),
        F.round(
            F.aggregate("cv", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("centroid_sum"),
    )


@register(
    "embed_label_centroid",
    oracle=f"""
SELECT label, pos + 1 AS dim, round(avg(CAST(x AS DOUBLE)), 6) AS centroid
FROM (SELECT label, {dims_sql()} FROM embeddings)
GROUP BY label, pos
""",
)
def embed_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): posexplode the
    vector and average per component — fully partial-aggregable, no vector
    UDF, the natural k-means-update / class-prototype kernel. (The exploded
    relation is rows×dim, but each shuffle record is one double — at 100 TB
    this is the map-side-combined plan, not a per-row array fold.)"""
    e = Tables(spark, sf_dir).embeddings
    return (
        e.select("label", dims())
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"))
    )


@register(
    "embed_quantize_int8",
    oracle=f"""
SELECT vec_id,
       round(max_abs, 9) AS max_abs,
       q_head, q_sum,
       round(rmse, 6) AS rmse
FROM (
  SELECT vec_id, max_abs,
         CAST(round(CAST(embedding[1] AS DOUBLE) * 127.0 / max_abs) AS BIGINT)
           AS q_head,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT)))
           AS BIGINT) AS q_sum,
         sqrt(list_sum(list_transform(embedding,
              x -> (CAST(x AS DOUBLE)
                    - round(CAST(x AS DOUBLE) * 127.0 / max_abs)
                      * max_abs / 127.0)
                   * (CAST(x AS DOUBLE)
                      - round(CAST(x AS DOUBLE) * 127.0 / max_abs)
                        * max_abs / 127.0))) / len(embedding)) AS rmse
  FROM (
    SELECT vec_id, embedding,
           nullif(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))), 0) AS max_abs
    FROM embeddings
    WHERE {_VEC_OK}
  )
)
""",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (the vector-storage
    compression every 100 TB ANN index does — 4x smaller than float32):
    per-vector absmax scale, q = round(x·127/absmax), summarized as exact
    integer checksums (q_head, q_sum — engine-exact) plus the
    reconstruction RMSE. Expression-only; at corpus scale the same math
    runs as one numpy pass per Arrow batch, but the semantics — and the
    oracle — are these. Quantizes VALID vectors only (nan-tier contract,
    mirrored in the oracle): round(NaN) cast to BIGINT is a runtime
    CAST_OVERFLOW under ANSI mode here and a conversion error in the
    oracle — an int8 index cannot encode a non-finite component at all."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    x = lambda c: c.cast("double")  # noqa: E731
    max_abs = F.nullif(
        F.array_max(F.transform("embedding", lambda v: F.abs(x(v)))),
        F.lit(0.0),
    )
    d = e.select("vec_id", "embedding", max_abs.alias("max_abs"))
    q = lambda v: F.round(x(v) * 127.0 / F.col("max_abs"), 0)  # noqa: E731
    return d.select(
        "vec_id",
        F.round("max_abs", 9).alias("max_abs"),
        q(F.element_at("embedding", 1)).cast("bigint").alias("q_head"),
        F.aggregate(
            F.transform("embedding", lambda v: q(v).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("q_sum"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "embedding",
                        # square by self-multiplication, NOT pow(r, 2):
                        # libm pow introduces 1-ulp drift between engines
                        lambda v: (x(v) - q(v) * F.col("max_abs") / 127.0)
                        * (x(v) - q(v) * F.col("max_abs") / 127.0),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / F.size("embedding")
            ),
            6,
        ).alias("rmse"),
    )


@register(
    "embed_centroid_outliers",
    oracle=f"""
WITH dims AS (
  SELECT vec_id, label, pos + 1 AS dim, CAST(x AS DOUBLE) AS v
  FROM (SELECT vec_id, label, {dims_sql()} FROM embeddings)
),
cent AS (
  SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim
),
dist AS (
  SELECT d.vec_id, d.label,
         round(sqrt(sum((d.v - c.c) * (d.v - c.c))), 6) AS dist
  FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
  GROUP BY d.vec_id, d.label
)
SELECT label, vec_id, dist
FROM (
  SELECT label, vec_id, dist,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id) AS rn
  FROM dist
)
WHERE rn <= 5
ORDER BY label, rn
""",
)
def embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen (mislabeled/corrupt vector detection):
    distance of every vector from its label centroid, top-5 per label.
    Fully relational — posexplode to (vec, label, dim, value), centroid by
    (label, dim), squared-diff re-aggregate by vec — so both engines run
    the identical plan shape and no array math crosses the oracle
    boundary. The (label, dim) centroid relation is tiny and broadcasts;
    the top-5 is a WindowGroupLimit at scale.

    DuckDB's avg() and Spark's partial-agg avg differ by summation order
    only in the last ulp; distances are rounded at 6 dp (random
    boundaries, engine-safe per SURVEY §5.4) and ranked by the ROUNDED
    value with a vec_id tie-break, so rank flips cannot occur."""
    e = Tables(spark, sf_dir).embeddings
    comps = e.select("vec_id", "label", dims()).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("x").cast("double").alias("v"),
    )
    cent = comps.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    dist = (
        comps.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))),
                6,
            ).alias("dist")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), F.col("vec_id"))
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("label", "vec_id", "dist")
    )


@register(
    "embed_cosine_histogram",
    oracle=f"""
WITH pairs AS (
  SELECT round({cosine_sql('a.embedding', 'b.embedding')}, 9) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {VEC_FINITE_SQL.format(v='a.embedding')}
    AND {VEC_FINITE_SQL.format(v='b.embedding')}
)
SELECT CAST(floor(cos * 10) AS INT) AS bin,
       count(*) AS n_pairs
FROM pairs GROUP BY bin
""",
)
def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label pairwise-cosine distribution, binned at width 0.1 —
    the corpus-geometry health check run before choosing a dedup
    threshold. One groupBy-label shuffle and ONE Arrow crossing per vector
    (the sim_pair_dedup data-movement shape): each block bins its pairwise
    cosines with a chunked block-local matmul and emits per-block bin
    counts, which a 21-row final aggregate merges. The numpy round(9) ≡
    DuckDB round(9) parity discipline is the one sim_pair_dedup's kernel
    already established (a first cut computed per-pair cosines with the
    aggregate/zip_with EXPRESSION for bit-exactness and measured 87 s at
    the 10x sweep vs ~2 s for this kernel — per-pair interpreted HOF work
    is the slow path; Σ block² pair COUNT is identical). At corpus scale
    the block key becomes sim_pair_dedup_lsh's bucket. A zero-norm
    vector's pairs have no cosine and land in the NULL bin, as in the
    oracle."""
    import numpy as np
    import pandas as pd

    def block_bins(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"bin": [], "n": []}).astype(
                {"bin": "int32", "n": "int64"}
            )
        G = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        Gn = unit_rows(G)
        counts: dict[int | None, int] = {}
        chunk = 4096
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            C = np.round(Gn[lo:hi] @ Gn.T, 9)
            ri, cj = np.indices(C.shape)
            keep = (ri + lo) < cj  # each unordered pair once, no self-pairs
            cos = C[keep]
            no_cos = np.isnan(cos)
            if no_cos.any():
                counts[None] = counts.get(None, 0) + int(no_cos.sum())
            bins = np.floor(cos[~no_cos] * 10).astype("int32")
            b, c = np.unique(bins, return_counts=True)
            for bb, cc in zip(b.tolist(), c.tolist()):
                counts[bb] = counts.get(bb, 0) + int(cc)
        return pd.DataFrame(
            {"bin": list(counts), "n": list(counts.values())}
        ).astype({"bin": "Int32", "n": "int64"})

    # Null/nan-tier contract (mirrored in the oracle): NULL embeddings have
    # no geometry, non-finite components poison the block matmul (NaN rows
    # bin differently than the oracle's NaN floor), and the oracle's
    # a.label = b.label join never matches NULL labels while groupBy would
    # form a NULL block — quarantine all three here.
    from ai_dataingestion_spark.functions.portable import finite_vec

    e = (
        Tables(spark, sf_dir)
        .embeddings.where(finite_vec("embedding") & F.col("label").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    per_block = e.groupBy("label").applyInPandas(block_bins, "bin int, n bigint")
    return per_block.groupBy("bin").agg(F.sum("n").alias("n_pairs"))


@register(
    "embed_norm_percentiles",
    oracle=f"""
WITH norms AS (
  SELECT sqrt({sq_norm_sql('embedding')}) AS l2
  FROM embeddings
  WHERE {_VEC_OK}
)
SELECT count(*) AS n_vectors,
       round({percentile_sql("l2", 0.1)}, 6) AS p10,
       round({percentile_sql("l2", 0.5)}, 6) AS p50,
       round({percentile_sql("l2", 0.9)}, 6) AS p90
FROM norms
""",
)
def embed_norm_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution percentiles of the embedding corpus — the
    un-normalized-vector detector. Norms use the left-to-right aggregate
    (bit-identical to list_sum), so the interpolated percentiles agree
    exactly; one aggregate, one row out. Computed over VALID vectors only
    (nan-tier contract, mirrored in the oracle): a NaN/Inf component makes
    the norm non-finite, which this engine's percentile ranks greatest but
    the oracle's quantile_cont propagates as NaN — quarantine, don't rank.
    n_vectors therefore counts valid vectors."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    norms = e.select(F.expr(f"sqrt({sq_norm_expr('embedding')})").alias("l2"))
    return norms.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(percentile("l2", 0.1), 6).alias("p10"),
        F.round(percentile("l2", 0.5), 6).alias("p50"),
        F.round(percentile("l2", 0.9), 6).alias("p90"),
    )


@register(
    "embed_label_eta_squared",
    oracle=f"""
WITH dims AS (
  SELECT label, pos AS dim, CAST(x AS DOUBLE) AS val
  FROM (SELECT label, {dims_sql()} FROM embeddings WHERE {_VEC_OK})
),
per_label AS (
  SELECT dim, label, count(*) AS n_l, avg(val) AS mu_l
  FROM dims GROUP BY dim, label
),
overall AS (
  SELECT dim, avg(val) AS mu, var_pop(val) AS var_total, count(*) AS n
  FROM dims GROUP BY dim
)
SELECT o.dim,
       round(o.var_total, 6) AS var_total,
       round(sum(p.n_l * (p.mu_l - o.mu) * (p.mu_l - o.mu)) / o.n
             / o.var_total, 6) AS eta_squared
FROM per_label p JOIN overall o ON p.dim = o.dim
GROUP BY o.dim, o.var_total, o.n
""",
)
def embed_label_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension label separability: eta² = between-label variance /
    total variance for each of the 64 embedding dimensions — the ANOVA
    screen for which dimensions actually encode the label structure
    (feature selection before clustering). posexplode fans out to
    n×64 rows once; both aggregations are partial-aggregable and the
    output is 64 rows at ANY corpus size. 6-dp rounding absorbs
    summation-order noise in the double sums. ANOVA runs over VALID
    vectors only (nan-tier contract, mirrored in the oracle): one NaN
    component turns a dimension's var_pop into NaN here and an Out of
    Range ERROR in the oracle's kernel."""
    t = Tables(spark, sf_dir)
    comps = t.embeddings.where(finite_vec()).select("label", dims()).select(
        "label", F.col("pos").alias("dim"), F.col("x").cast("double").alias("val")
    )
    per_label = comps.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("n_l"), F.avg("val").alias("mu_l")
    )
    overall = comps.groupBy("dim").agg(
        F.avg("val").alias("mu"),
        F.var_pop("val").alias("var_total"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_label.join(overall, "dim")
        .groupBy("dim", "var_total", "n")
        .agg(
            F.round(
                F.sum(
                    F.col("n_l") * (F.col("mu_l") - F.col("mu"))
                    * (F.col("mu_l") - F.col("mu"))
                )
                / F.col("n")
                / F.col("var_total"),
                6,
            ).alias("eta_squared")
        )
        .select("dim", F.round("var_total", 6).alias("var_total"), "eta_squared")
    )


_GRAM_SCHEMA = "i int, j int, s double"


def _partial_gram_kernel(it):
    """Per-Arrow-batch partial sufficient statistics for PCA: the upper
    triangle of Σ x·xᵀ as (i, j, s) rows, per-dimension sums as
    (i, -1, Σx_i), and the row count as (-1, -1, n). Each vector crosses
    into Python exactly once and each batch ships ≤ 64·65/2 + 65 rows
    regardless of batch size — the partial-aggregable Gram shape that
    tree-reduces on a cluster."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        if len(pdf) == 0:
            continue
        X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        d = X.shape[1]
        G = X.T @ X
        iu, ju = np.triu_indices(d)
        sums = X.sum(axis=0)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]).astype("int32"),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]).astype("int32"),
                "s": np.concatenate([G[iu, ju], sums, [float(len(pdf))]]),
            }
        )


@register(
    "embed_pca_top_component",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, pos AS i, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, {dims_sql()} FROM embeddings
        WHERE embedding IS NOT NULL)
),
mu AS (SELECT i, avg(x) AS m FROM ex GROUP BY i),
cov AS (
  SELECT a.i AS i, b.i AS j,
         avg(a.x * b.x) - ma.m * mb.m AS c
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
  JOIN mu ma ON a.i = ma.i
  JOIN mu mb ON b.i = mb.i
  GROUP BY a.i, b.i, ma.m, mb.m
),
v0 AS (SELECT i, 0.125 AS v FROM mu),
w1 AS (SELECT c.i, sum(c.c * v0.v) AS w FROM cov c JOIN v0 ON c.j = v0.i GROUP BY c.i),
v1 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w1),
w2 AS (SELECT c.i, sum(c.c * v1.v) AS w FROM cov c JOIN v1 ON c.j = v1.i GROUP BY c.i),
v2 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w2),
w3 AS (SELECT c.i, sum(c.c * v2.v) AS w FROM cov c JOIN v2 ON c.j = v2.i GROUP BY c.i),
v3 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w3),
w4 AS (SELECT c.i, sum(c.c * v3.v) AS w FROM cov c JOIN v3 ON c.j = v3.i GROUP BY c.i),
v4 AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w4),
w5 AS (SELECT c.i, sum(c.c * v4.v) AS w FROM cov c JOIN v4 ON c.j = v4.i GROUP BY c.i)
SELECT i AS dim,
       round(w / sqrt(sum(w * w) OVER ()), 6) AS loading,
       round(sqrt(sum(w * w) OVER ()), 6) AS eigenvalue
FROM w5
""",
)
def embed_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus: covariance
    via sufficient statistics, then five unrolled power iterations from
    the uniform start vector (1/8 per dim, ‖v₀‖=1 for d=64).

    Scale shape: the ONLY pass over the corpus is an Arrow mapInPandas
    kernel emitting per-batch partial Gram statistics (≤ 2145 rows per
    batch, independent of batch size) that a single groupBy(i, j)
    tree-reduces — never the 4096·n explode-self-join the SQL oracle
    spells (that is the semantic spec, quadratic in d·n and fine at
    oracle scale only). The reduced statistics are d²-bounded (2,145
    doubles regardless of corpus size — the same bounded-collect class
    as sim_ann_ivf's 16 centroids), so the 64×64 eigen-iteration runs
    driver-side in numpy: a first cut that expressed the five
    iterations as chained DataFrame joins paid ~50 tiny-stage
    schedulings (28 s at sf0.01 vs 1.5 s this way) to move 4-KB
    relations around. Power iteration from a positive start converges
    to the dominant eigenvector with deterministic sign; 6-dp rounding
    absorbs the engines' summation-order noise."""
    import numpy as np

    t = Tables(spark, sf_dir)
    # NULL embeddings have no geometry (oracle mirrors the exclusion);
    # np.stack over an Arrow batch containing None is a hard crash.
    partial = (
        t.embeddings.where(F.col("embedding").isNotNull())
        .select("embedding")
        .mapInPandas(_partial_gram_kernel, schema=_GRAM_SCHEMA)
    )
    stats = partial.groupBy("i", "j").agg(F.sum("s").alias("s"))
    rows = stats.collect()  # d*(d+1)/2 + d + 1 rows — dimension-bounded
    schema = "dim int, loading double, eigenvalue double"
    if not rows:  # empty corpus: no statistics, no component
        return spark.createDataFrame([], schema)
    d = max(r["i"] for r in rows) + 1
    S = np.zeros((d, d))
    sums = np.zeros(d)
    n = 0.0
    for r in rows:
        if r["i"] == -1:
            n = r["s"]
        elif r["j"] == -1:
            sums[r["i"]] = r["s"]
        else:
            S[r["i"], r["j"]] = r["s"]
            S[r["j"], r["i"]] = r["s"]
    mu = sums / n
    cov = S / n - np.outer(mu, mu)
    v = np.full(d, 0.125)
    for _ in range(5):
        w = cov @ v
        norm = float(np.sqrt((w * w).sum()))
        v = w / norm
    out = [(int(i), float(v[i]), float(norm)) for i in range(d)]
    # round via F.round (HALF_UP, the DuckDB round semantics) — Python's
    # built-in round is banker's and could diverge on exact .5e-6 ties
    return spark.createDataFrame(out, schema).select(
        "dim",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    )


@register(
    "sim_cosine_range_search",
    oracle=f"""
WITH {_COSINE_PAIRS_SQL}
SELECT probe_id, neighbor_id, round(cos, 9) AS cos
FROM pairs WHERE round(cos, 9) >= 0.3
""",
)
def sim_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search: EVERY neighbor with cosine ≥ 0.3 of each
    probe — the epsilon-ball companion to sim_cosine_topk's kNN (a range
    query returns all sufficiently-similar items, however many; top-k
    returns k, however dissimilar — retrieval pipelines need both). Same
    one-Arrow-crossing matmul kernel and 9-dp parity rounding; the
    threshold filter replaces the rank window, so no per-probe sort at
    all — at scale this is strictly cheaper than top-k."""
    import numpy as np
    import pandas as pd

    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    pids, Pn = _probe_matrix(spark, sf_dir)

    def score(batches):
        for pdf in batches:
            if not len(pdf) or not len(pids):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Bn = unit_rows(B)
            C = np.round(Bn @ Pn.T, 9)  # (n_batch, n_probes)
            ni, pi = np.nonzero(C >= 0.3)  # kernel-side threshold: only
            # qualifying pairs cross back out of the Python worker
            yield pd.DataFrame(
                {
                    "probe_id": np.asarray(pids)[pi],
                    "neighbor_id": pdf["vec_id"].to_numpy()[ni],
                    "cos": C[ni, pi],
                }
            )

    return (
        e.select("vec_id", "embedding")
        .mapInPandas(score, "probe_id bigint, neighbor_id bigint, cos double")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
    )


@register(
    "embed_label_confusion",
    oracle=f"""
WITH cent AS (
  SELECT label, list(c ORDER BY dim) AS cvec FROM (
    SELECT label, pos AS dim, round(avg(CAST(x AS DOUBLE)), 6) AS c FROM (
      SELECT label, {dims_sql()} FROM embeddings WHERE {_VEC_OK}
    ) GROUP BY label, pos
  ) GROUP BY label
),
dists AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS other_label,
         floor(list_sum(list_transform(e.embedding,
                 (x, i) -> (CAST(x AS DOUBLE) - c.cvec[i])
                           * (CAST(x AS DOUBLE) - c.cvec[i])))
               * 1000000 + 0.5) / 1000000 AS d2
  FROM embeddings e JOIN cent c ON e.label <> c.label
  WHERE {VEC_FINITE_SQL.format(v='e.embedding')}
),
nearest AS (
  SELECT vec_id, true_label, other_label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, other_label) AS rn
  FROM dists
)
SELECT true_label, other_label AS nearest_other_label, count(*) AS n
FROM nearest WHERE rn = 1
GROUP BY true_label, other_label
""",
)
def embed_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusion matrix for the embedding space: each vector is
    assigned the nearest OTHER label's centroid, and the (true label →
    nearest other label) counts expose which classes blur together —
    the prototype-based confusability screen run before spending on a
    classifier. Centroids are rounded to 6dp on BOTH sides before any
    distance (the rounded-before-compare rule), distances are
    left-to-right folds (Spark aggregate ≡ DuckDB list_sum — the
    similarity.py float discipline) rounded before the argmin with an
    other-label tiebreak. Scale shape: the labels-sized centroid
    relation broadcasts; distances are map-side n×(k−1); output is
    bounded by labels² at any corpus size. Runs over VALID vectors only
    (nan-tier contract, mirrored twice in the oracle — centroid build and
    scoring): one NaN component poisons a centroid AND makes the argmin
    rank NaN distances differently across engines."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    cent = (
        e.select("label", dims())
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s.getField("c"),
            ).alias("cvec")
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dists = (
        e.crossJoin(
            F.broadcast(
                cent.select(
                    F.col("label").alias("other_label"), "cvec"
                )
            )
        )
        .filter(F.col("label") != F.col("other_label"))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "other_label",
            pround(d2).alias("d2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "other_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_label", F.col("other_label").alias("nearest_other_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_MMR_LAMBDA = 0.7
_MMR_K = 4


def _mmr_cos_sql(a: str, b: str) -> str:
    return f"floor({cosine_sql(a, b)} * 1000000000 + 0.5) / 1000000000"


def _mmr_oracle() -> str:
    """Unrolled k-step MMR selection as chained CTEs (the kmeans
    unrolled-oracle precedent). Every stage reads the `emb` CTE — the
    valid-vector quarantine (nan-tier contract, the engine side's
    finite_vec): a NaN component would poison the greedy chain's very
    first argmax and every penalty after it."""
    cos_qd = _mmr_cos_sql("q.embedding", "e.embedding")
    parts = [
        f"""
emb AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE {_VEC_OK}
),
qv AS (SELECT embedding FROM emb
       WHERE vec_id = (SELECT min(vec_id) FROM emb)),
scored AS (
  SELECT e.vec_id, {cos_qd} AS sim
  FROM emb e CROSS JOIN qv q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM emb)
),
sel1 AS (SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 1)
"""
    ]
    prev_sel = "sel1"
    sel_union = "SELECT vec_id FROM sel1"
    for step in range(2, _MMR_K + 1):
        cos_ds = _mmr_cos_sql("d.embedding", "s.embedding")
        parts.append(
            f"""
pen{step} AS (
  SELECT d.vec_id, max({cos_ds}) AS max_sel_sim
  FROM emb d
  JOIN emb s ON s.vec_id IN ({sel_union})
  WHERE d.vec_id NOT IN ({sel_union})
    AND d.vec_id <> (SELECT min(vec_id) FROM emb)
  GROUP BY d.vec_id
),
sel{step} AS (
  SELECT sc.vec_id, sc.sim
  FROM scored sc JOIN pen{step} p ON sc.vec_id = p.vec_id
  ORDER BY {_MMR_LAMBDA} * sc.sim - {1 - _MMR_LAMBDA} * p.max_sel_sim DESC,
           sc.vec_id
  LIMIT 1
)"""
        )
        sel_union += f" UNION ALL SELECT vec_id FROM sel{step}"
        prev_sel = f"sel{step}"
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS pick_order, vec_id, sim FROM sel{i + 1}"
        for i in range(_MMR_K)
    )
    return "WITH " + ",".join(parts) + "\n" + selects


@register("embed_mmr_select", oracle=_mmr_oracle())
def embed_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell-Goldstein 1998) diversified
    top-k: greedily pick the candidate maximizing
    λ·sim(query, d) − (1−λ)·max_sim(d, already-selected) — the
    diversification step RAG retrieval runs after ANN so the k passages
    aren't five copies of the same paragraph. λ=0.7, k=4, query = the
    lowest-id vector. The greedy loop is inherently sequential, so each
    of the k−1 penalty rounds is one distributed pass (map-side cosines
    vs the ≤k-row broadcast selected set, argmax with vec_id tiebreak);
    the driver collects ONE row per round — the bounded-collect budget
    the kmeans/centroid ops established. Cosines are left-to-right
    folds rounded to 9dp before every argmax; the oracle unrolls the
    identical greedy chain as CTEs over the same valid-vector quarantine
    (nan-tier contract: a NaN component would poison the first argmax
    and every penalty round after it). A zero-norm vector has a NULL
    cosine, which ranks last on both engines."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    if qrow is None:  # empty corpus: no query vector, empty result
        return spark.createDataFrame(
            [], "pick_order int, vec_id bigint, sim double"
        )
    q_id, q_vec = qrow["vec_id"], qrow["embedding"]

    def cos(col_name: str, lit_vec: list) -> F.Column:
        # ONE parsed expression per cosine: the Column form issued ~64 py4j
        # lit() calls per literal vector plus lambda plumbing, re-paid
        # every round of the greedy loop. repr() floats round-trip the
        # exact IEEE doubles; 0.5D keeps the rounding literal DOUBLE (a
        # bare SQL decimal is DECIMAL).
        arr = "array({})".format(
            ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in lit_vec)
        )
        return F.expr(
            f"floor({cosine_expr(col_name, arr)} * 1000000000 + 0.5D)"
            " / 1000000000"
        )

    cand = e.filter(F.col("vec_id") != q_id).select(
        "vec_id", "embedding", cos("embedding", q_vec).alias("sim")
    ).transform(op_cache)

    selected: list = []  # (vec_id, sim, embedding)
    for _ in range(_MMR_K):
        if not selected:
            pick = cand.orderBy(F.desc("sim"), F.asc("vec_id")).first()
        else:
            sel_ids = [s[0] for s in selected]
            pen = None
            for _sid, _ssim, svec in selected:
                p = cos("embedding", svec)
                pen = p if pen is None else F.greatest(pen, p)
            pick = (
                cand.filter(~F.col("vec_id").isin(sel_ids))
                .withColumn(
                    "mmr",
                    _MMR_LAMBDA * F.col("sim") - (1 - _MMR_LAMBDA) * pen,
                )
                .orderBy(F.desc("mmr"), F.asc("vec_id"))
                .first()
            )
        if pick is None:  # fewer than k candidates exist: stop early
            break
        selected.append((pick["vec_id"], pick["sim"], pick["embedding"]))

    rows = [
        (i + 1, int(vid), float(sim))
        for i, (vid, sim, _vec) in enumerate(selected)
    ]
    return spark.createDataFrame(
        rows, "pick_order int, vec_id bigint, sim double"
    )


@register(
    "embed_index_upsert_refresh",
    oracle=f"""
WITH emb AS (
  -- valid-vector quarantine (nan-tier contract): an index never admits a
  -- vector with NaN/Inf components, so neither lake nor batch sees one
  SELECT vec_id, embedding, label FROM embeddings
  WHERE {_VEC_OK}
),
lake AS (
  SELECT vec_id, embedding, label FROM emb WHERE vec_id % 5 <> 0
),
batch AS (
  -- new vectors (the %5 slice) + re-embeddings of every 10th lake vector
  -- (negated -> provably different), which must REPLACE their lake rows
  SELECT vec_id, embedding, label FROM emb WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id, list_transform(embedding, x -> -x), label
  FROM emb WHERE vec_id % 5 <> 0 AND vec_id % 10 = 0
),
merged AS (
  SELECT vec_id, embedding, label FROM batch
  UNION ALL
  SELECT l.vec_id, l.embedding, l.label FROM lake l
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.vec_id = l.vec_id)
)
SELECT label,
       count(*) AS n_vectors,
       CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserted,
       CAST(sum(CASE WHEN vec_id % 5 <> 0 AND vec_id % 10 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_replaced,
       floor(sum(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE)))) * 1000000 + 0.5) / 1000000
         AS component_sum
FROM merged GROUP BY label
""",
)
def embed_index_upsert_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index upsert: a batch of NEW vectors plus RE-EMBEDDINGS of
    existing ids (model-version bump — injected as negations so
    replacement is provable) merges into the vector lake with
    last-writer-wins on vec_id — the refresh cycle every embedding
    store runs when the encoder changes. The merge is the anti-join
    upsert (batch ∪ lake-not-in-batch), keyed on vec_id; the per-label
    report checksums the post-merge state via each vector's component
    sum (left-to-right fold), which flips sign for replaced vectors —
    so a botched merge (duplicate id, missed replacement) breaks the
    hash, not just the count. The index admits VALID vectors only
    (nan-tier contract, mirrored in the oracle's emb CTE): a NaN
    component would poison the per-label checksum."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    lake = e.filter(F.col("vec_id") % 5 != 0)
    re_embedded = (
        e.filter((F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 10 == 0))
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
            "label",
        )
    )
    batch = e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "embedding", "label"
    ).unionByName(re_embedded)
    merged = batch.unionByName(
        lake.join(batch.select("vec_id"), "vec_id", "left_anti").select(
            "vec_id", "embedding", "label"
        )
    )
    comp_sum = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return merged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("vec_id") % 5 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.sum(
            F.when(
                (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 10 == 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_replaced"),
        pround(F.sum(comp_sum)).alias("component_sum"),
    )


@register(
    "embed_dim_corr_pairs",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, {dims_sql()} FROM embeddings
        WHERE vec_id % 4 = 0 AND {_VEC_OK})
),
pairs AS (
  SELECT a.dim AS d1, b.dim AS d2,
         count(*) AS n,
         sum(a.x) AS sx, sum(b.x) AS sy,
         sum(a.x * b.x) AS sxy,
         sum(a.x * a.x) AS sxx, sum(b.x * b.x) AS syy
  FROM comp a JOIN comp b
    ON a.vec_id = b.vec_id AND a.dim < b.dim AND b.dim <= a.dim + 8
  GROUP BY a.dim, b.dim
),
scored AS (
  SELECT d1, d2,
         floor((sxy - sx * sy / n)
               / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
               * 1000000 + 0.5) / 1000000 AS r
  FROM pairs
)
SELECT d1, d2, r FROM (
  SELECT d1, d2, r,
         row_number() OVER (ORDER BY abs(r) DESC, d1, d2) AS rn
  FROM scored)
WHERE rn <= 15
""",
)
def embed_dim_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension redundancy screen: Pearson correlation for
    every dimension pair within a lag-8 band (d·8 pairs, not d²/2 —
    the banded screen used before paying for full PCA), top-15 by
    |r| — highly correlated dimensions mean the encoder wastes width
    and downstream quantization can fold them. Sampled corpus slice
    (every 4th vector), exploded once; the pair join is keyed on
    vec_id with the band predicate bounding fan-out at 8 per
    component row. Moment sums feed one rounded correlation per pair
    (float sums stabilized by the 6dp round — the §5.4 rule);
    rank cut is deterministic. Correlations run over VALID vectors only
    (nan-tier contract, mirrored in the oracle): one NaN component turns
    8 band pairs' moment sums into NaN, and |NaN| ranks differently
    across the engines' top-15 windows."""
    e = Tables(spark, sf_dir).embeddings.filter(
        (F.col("vec_id") % 4 == 0) & finite_vec()
    )
    comp = e.select("vec_id", dims()).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    a = comp.select("vec_id", F.col("dim").alias("d1"), F.col("x").alias("xa"))
    b = comp.select("vec_id", F.col("dim").alias("d2"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, "vec_id")
        .filter(
            (F.col("d1") < F.col("d2")) & (F.col("d2") <= F.col("d1") + 8)
        )
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        )
    )
    r = pround(
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
        / F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        )
    )
    scored = pairs.select("d1", "d2", r.alias("r"))
    w = Window.orderBy(F.desc(F.abs(F.col("r"))), F.asc("d1"), F.asc("d2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("d1", "d2", "r")
    )


_PREFIX_KS = (8, 16, 32, 64)


def _prefix_oracle() -> str:
    per = ",\n".join(
        f"         sum(CASE WHEN i <= {k} THEN CAST(x AS DOUBLE) * x END)"
        f" AS e{k}"
        for k in _PREFIX_KS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {k} AS k, round(avg(e{k} / e64), 6) AS mean_energy,"
        f" round(min(e{k} / e64), 6) AS min_energy,"
        f" round(max(e{k} / e64), 6) AS max_energy FROM per"
        for k in _PREFIX_KS
    )
    return f"""
WITH ex AS (
  SELECT vec_id, pos + 1 AS i, x
  FROM (SELECT vec_id, {dims_sql()} FROM embeddings)
),
per AS (
  SELECT vec_id,
{per}
  FROM ex GROUP BY vec_id
)
{rows}
"""


@register("embed_prefix_energy_fraction", oracle=_prefix_oracle())
def embed_prefix_energy_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style prefix-energy curve: what fraction of each
    embedding's L2 energy lives in its first k dimensions
    (k ∈ 8/16/32/64) — the measurement behind truncating stored vectors
    to a prefix (Kusupati 2022): if mean energy at k=16 is already
    ~0.95 the index can ship quarter-width vectors. One posexplode +
    one vec_id-partitioned aggregate computing all four conditional
    energy sums in a single pass (no per-k re-scan), then a 4-row
    rollup; ratios are per-vector so corpus-level float accumulation
    never mixes vectors. A zero vector has no energy to split: its
    fractions are NULL, as in the oracle."""
    e = Tables(spark, sf_dir).embeddings
    ex = e.select("vec_id", dims()).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    aggs = [
        F.sum(
            F.when(F.col("i") <= k, F.col("x") * F.col("x"))
        ).alias(f"e{k}")
        for k in _PREFIX_KS
    ]
    per = ex.groupBy("vec_id").agg(*aggs)
    # stack() unpivots the four ratios from ONE pass over `per` — a
    # union of four selects would re-run the explode+aggregate per k
    # (measured: 4 Generate nodes in the physical plan).
    stack_args = ", ".join(f"{k}, try_divide(e{k}, e64)" for k in _PREFIX_KS)
    stacked = per.select(
        F.expr(f"stack({len(_PREFIX_KS)}, {stack_args}) AS (k, f)")
    )
    return stacked.groupBy("k").agg(
        F.round(F.avg("f"), 6).alias("mean_energy"),
        F.round(F.min("f"), 6).alias("min_energy"),
        F.round(F.max("f"), 6).alias("max_energy"),
    )


@register(
    "embed_sign_hamming_separation",
    oracle=f"""
WITH bits AS (
  SELECT label, pos + 1 AS dim, CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END AS b
  FROM (SELECT label, {dims_sql()} FROM embeddings)
),
marg AS (
  SELECT label, dim, avg(b) AS p FROM bits GROUP BY label, dim
)
SELECT a.label AS label_a, b.label AS label_b,
       {grid_sum_sql("a.p * (1 - b.p) + (1 - a.p) * b.p")} AS mean_hamming
FROM marg a JOIN marg b ON a.dim = b.dim
GROUP BY a.label, b.label
""",
)
def embed_sign_hamming_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sign-binarized (1-bit-per-dim) Hamming separation between label
    groups — does the 64× compression of sign-LSH codes (Charikar
    2002) preserve label structure? The key identity: the EXACT mean
    pairwise Hamming distance between groups A and B is
    Σ_d [p_A(1−p_B) + (1−p_A)p_B] where p is each group's per-dim
    1-bit rate — so the all-pairs O(n²) comparison collapses to an
    O(labels × dims) join over bit marginals. That closed form IS the
    100 TB plan: one explode + one (label, dim) aggregate, then a
    640-row self-join; within-label diagonal (self-pairs included)
    low vs off-diagonal high = codes separate the labels."""
    e = Tables(spark, sf_dir).embeddings
    bits = e.select("label", dims()).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.when(F.col("x") > 0, 1.0).otherwise(0.0).alias("b"),
    )
    # cache the labels×dims marginal (≤640 rows): the self-join would
    # otherwise re-run the corpus explode+aggregate once per side
    # (measured: 2 Generate posexplode nodes without it)
    marg = bits.groupBy("label", "dim").agg(F.avg("b").alias("p")).transform(op_cache)
    a = marg.select(
        F.col("label").alias("label_a"),
        F.col("dim").alias("dim_a"),
        F.col("p").alias("pa"),
    )
    b = marg.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("p").alias("pb"),
    )
    return (
        a.join(F.broadcast(b), F.col("dim_a") == F.col("dim_b"))
        .groupBy("label_a", "label_b")
        .agg(
            # the 64 per-dim terms sum on the exact 1e-6 integer grid
            # (portable.py:grid_sum — count-ratio products can land
            # exactly on decimal-cast midpoints, the null-tier class),
            # so the emission is bit-deterministic with no further round
            grid_sum(
                F.col("pa") * (1 - F.col("pb"))
                + (1 - F.col("pa")) * F.col("pb")
            ).alias("mean_hamming")
        )
    )


_PQ_BLOCKS = 4
_PQ_SUBDIM = 16
_PQ_K = 4  # codebook entries per block: sub-vectors of vec_ids 0..3


@register(
    "embed_pq_reconstruction_error",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, label, pos AS i, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, label, {dims_sql()} FROM embeddings WHERE {_VEC_OK})
),
sub AS (
  SELECT vec_id, CAST(floor(i / {_PQ_SUBDIM}) AS INTEGER) AS blk,
         i % {_PQ_SUBDIM} AS j, x
  FROM ex
),
cb AS (
  SELECT blk, j, vec_id AS cid, x AS cx FROM sub WHERE vec_id < {_PQ_K}
),
dist AS (
  SELECT s.vec_id, s.blk, c.cid,
         floor(sum((s.x - c.cx) * (s.x - c.cx)) * 1e9 + 0.5) / 1e9 AS d
  FROM sub s JOIN cb c ON s.blk = c.blk AND s.j = c.j
  GROUP BY s.vec_id, s.blk, c.cid
),
assign AS (
  SELECT vec_id, blk, min(d) AS best_d
  FROM (SELECT vec_id, blk, cid, d,
               row_number() OVER (PARTITION BY vec_id, blk
                                  ORDER BY d, cid) AS rn
        FROM dist)
  WHERE rn = 1 GROUP BY vec_id, blk
),
norms AS (
  SELECT vec_id, sum(x * x) AS e FROM sub GROUP BY vec_id
),
per_vec AS (
  SELECT a.vec_id, sum(a.best_d) AS sq_err, max(n.e) AS e
  FROM assign a JOIN norms n ON a.vec_id = n.vec_id
  GROUP BY a.vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(sq_err / e), 6) AS mean_err_ratio,
       round(max(sq_err / e), 6) AS max_err_ratio,
       round(avg(sq_err), 6) AS mean_sq_err
FROM per_vec
""",
)
def embed_pq_reconstruction_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Product-quantization (Jégou 2011) reconstruction error: split
    each 64-dim vector into 4 sub-vectors of 16, snap each to its
    nearest entry in a 4-entry per-block codebook (deterministically
    the sub-vectors of vec_ids 0-3 — a fixed 'trained' codebook both
    engines share), and report how much energy the 2-bit-per-block
    code loses. PQ is the memory side of ANN serving (sim_ann_ivf
    prunes candidates; PQ shrinks residents 128×). The plan: one
    explode to (vec, block, j) cells, the tiny codebook joins
    BROADCAST, per-(vec, block, centroid) distances aggregate in one
    pass, argmin by (9-dp-rounded distance, cid) — the
    tpch_q2_min_cost_supplier round-before-rank rule — then a
    corpus-sized ratio rollup. Quantizes VALID vectors only (nan-tier
    contract, mirrored in the oracle): a NaN component makes every
    block distance NaN, so the argmin degenerates to the cid tiebreak
    and the error ratios go NaN — quarantine, don't encode. A zero
    vector has no energy, so its error ratio is NULL, as in the oracle."""
    e = Tables(spark, sf_dir).embeddings.where(finite_vec())
    ex = e.select("vec_id", dims()).select(
        "vec_id",
        (F.col("pos") / _PQ_SUBDIM).cast("int").alias("blk"),
        (F.col("pos") % _PQ_SUBDIM).alias("j"),
        F.col("x").cast("double").alias("x"),
    )
    cb = ex.where(F.col("vec_id") < _PQ_K).select(
        F.col("blk").alias("c_blk"),
        F.col("j").alias("c_j"),
        F.col("vec_id").alias("cid"),
        F.col("x").alias("cx"),
    )
    dist = (
        ex.join(
            F.broadcast(cb),
            (F.col("blk") == F.col("c_blk")) & (F.col("j") == F.col("c_j")),
        )
        .groupBy("vec_id", "blk", "cid")
        .agg(
            (
                F.floor(
                    F.sum(
                        (F.col("x") - F.col("cx"))
                        * (F.col("x") - F.col("cx"))
                    )
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("d")
        )
    )
    w = Window.partitionBy("vec_id", "blk").orderBy("d", "cid")
    assign = (
        dist.select("vec_id", "blk", "d", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .groupBy("vec_id", "blk")
        .agg(F.min("d").alias("best_d"))
    )
    norms = ex.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).alias("e")
    )
    per_vec = (
        assign.groupBy("vec_id")
        .agg(F.sum("best_d").alias("sq_err"))
        .join(norms, "vec_id")
    )
    ratio = F.try_divide(F.col("sq_err"), F.col("e"))
    return per_vec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg(ratio), 6).alias("mean_err_ratio"),
        F.round(F.max(ratio), 6).alias("max_err_ratio"),
        F.round(F.avg("sq_err"), 6).alias("mean_sq_err"),
    )


_LOGREG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings),
g1 AS (
  SELECT i AS dim, round(avg((0.5 - y) * x), 4) AS g
  FROM (SELECT y, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e) ex
  GROUP BY i),
w1 AS (SELECT list(round(-g, 4) ORDER BY dim) AS wv FROM g1),
z2 AS (
  SELECT e.vec_id, e.y, e.v,
         round(1.0 / (1.0 + exp(-round({dot_sql('e.v', 'w1.wv')}, 4))), 4)
           AS sig
  FROM e CROSS JOIN w1),
g2 AS (
  SELECT i AS dim, round(avg((sig - y) * x), 4) AS g
  FROM (SELECT sig, y, unnest(v) AS x, generate_subscripts(v, 1) AS i
        FROM z2) ex
  GROUP BY i),
w2 AS (
  SELECT g2.dim, round(-g1.g - g2.g, 4) AS w
  FROM g2 JOIN g1 USING (dim)),
w2l AS (SELECT list(w ORDER BY dim) AS wv FROM w2),
acc AS (
  SELECT 0 AS dim,
         round(avg(CASE WHEN (round({dot_sql('e.v', 'w2l.wv')}, 4) >= 0)
                 = (e.y = 1.0)
               THEN 1.0 ELSE 0.0 END), 4) AS w
  FROM e CROSS JOIN w2l)
SELECT dim, w FROM w2 UNION ALL SELECT dim, w FROM acc
"""


@register("embed_logistic_regression_step", oracle=_LOGREG_ORACLE)
def embed_logistic_regression_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two unrolled iterations of full-batch logistic-regression gradient
    descent (binary task: label==0), expressed relationally — the
    distributed-training kernel as pure DataFrame ops, following
    embed_kmeans_iterations' determinism recipe. Per iteration: one
    map-side dot product per vector against the broadcast weight array
    (left-to-right zip_with fold), a sigmoid, and a partial-aggregable
    per-dimension gradient mean via posexplode — the exact shape of a
    parameter-server step where only d gradient scalars shuffle, never
    vectors. Cross-engine determinism: w0 = 0 makes sigma exactly 0.5 in
    step 1; thereafter dots, sigmoids, gradient means, and weights are
    each rounded to 4 dp BEFORE feeding the next stage, so both engines
    iterate from bit-equal state (the kmeans 4-dp flake-insurance
    analysis applies). Weight collection between iterations is 64
    bounded scalars (the documented bounded-collect exception, like the
    16 IVF centroids). Output: 64 (dim, weight) rows + a dim=0 row with
    the training-set sign-prediction accuracy at the final weights
    (0.604 at sf0.001 vs ~0.5 chance — the step demonstrably learns).
    Oracle: the same two iterations unrolled as DuckDB CTEs."""
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        F.expr("CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END").alias("y"),
    )
    ex = e.select("y", F.posexplode("v").alias("j0", "x")).select(
        (F.col("j0") + 1).alias("dim"), "y", "x"
    )
    # r17: g1 feeds both the w1 collect and the w2 join — op_cache runs
    # the first gradient pass once (64 rows cached); the literal weight
    # arrays are ONE parsed expression instead of 64 py4j lit() calls
    # (guide §5, the _cw_sig_agg_exprs driver-build technique).
    g1 = ex.groupBy("dim").agg(
        F.round(F.avg((F.lit(0.5) - F.col("y")) * F.col("x")), 4).alias("g")
    ).transform(op_cache)
    w1 = [round(-r["g"], 4) for r in g1.orderBy("dim").collect()]  # 64 scalars
    if not w1:  # empty corpus: no dims, no weights — return empty frame
        return g1.select("dim", F.col("g").alias("w"))

    def lit_arr(vals):
        # repr() round-trips the exact IEEE double; D keeps it DOUBLE.
        # NaN/inf (possible at the nan tier: gradients average raw
        # embedding components) have no SQL literal — cast the Java
        # tokens, which Spark's string->double cast accepts.
        def one(x):
            x = float(x)
            if x != x:
                return "CAST('NaN' AS DOUBLE)"
            if x == float("inf") or x == float("-inf"):
                return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
            return f"{x!r}D"

        return "array({})".format(", ".join(one(x) for x in vals))

    w1arr = lit_arr(w1)

    def dot(varr):
        return F.round(F.expr(dot_expr("v", varr)), 4)

    z2 = e.select(
        "y", "v", F.round(1.0 / (1.0 + F.exp(-dot(w1arr))), 4).alias("sig")
    )
    ex2 = z2.select("sig", "y", F.posexplode("v").alias("j0", "x")).select(
        (F.col("j0") + 1).alias("dim"), "sig", "y", "x"
    )
    g2 = ex2.groupBy("dim").agg(
        F.round(F.avg((F.col("sig") - F.col("y")) * F.col("x")), 4).alias("g2")
    )
    # r17: w2df feeds both the w2 collect and the returned union —
    # uncached, the second corpus gradient pass re-executed when the
    # output was consumed.
    w2df = g2.join(g1, "dim").select(
        "dim", F.round(-F.col("g") - F.col("g2"), 4).alias("w")
    ).transform(op_cache)
    w2 = [r["w"] for r in w2df.orderBy("dim").collect()]  # 64 scalars
    w2arr = lit_arr(w2)
    acc = (
        e.select(
            (dot(w2arr) >= 0).alias("pred"), (F.col("y") == 1.0).alias("pos")
        )
        .agg(
            F.round(
                F.avg(F.when(F.col("pred") == F.col("pos"), 1.0).otherwise(0.0)),
                4,
            ).alias("w")
        )
        .select(F.lit(0).alias("dim"), "w")
    )
    return w2df.unionByName(acc)
