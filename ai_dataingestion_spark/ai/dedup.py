"""Deduplication operators for LLM training-data pipelines (§2.K + extras):
exact (hash), MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

The measured corpus has zero exact/near duplicates (FIXTURES.md), so each
operator unions the documents table with a deterministically mutated copy of
itself inside the query — a self-contained fixture the oracle can mirror.

Scale posture: every near-dup algorithm here is candidate-generation via a
key-equality join (LSH band bucket / simhash chunk / rare shingle) followed
by exact verification on the candidate pairs only. Nothing is O(n²) over the
corpus; the shuffles are on bucket keys.

The near-dup family shares one definition of each pipeline step: a Spark
builder and the DuckDB twin its oracles are written with. They are the
shingled-docs relation (_shingled_docs / _shingled_cte), the Carter-Wegman
signature (_minhash_signature / _SIG_CTE), the 8×4 LSH band → candidate →
exact-Jaccard ≥ 0.6 chain (_minhash_near_pairs / _LSH_CAND_CTES +
_LSH_VERIFY_SQL), and the exact-Jaccard expression (_n_common, _jaccard /
_DUCK_N_COMMON, _DUCK_JACCARD).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    hash60_expr,
    hash60_sql,
    pround,
    tokens,
    tokens_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.scale import (
    ARRAY_TABLE_BYTES as _ARRAY_GATE,
    bounded_self_join,
    hint_array_side,
)

# MinHash constants (FIXTURES.md): 3-token shingles, 32 seeds, 8 bands x 4 rows.
SHINGLE_K = 3
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = 4

_DUP_OFFSET = 1_000_000
_NEAR_OFFSET = 2_000_000  # dedup_removal_plan: near copies beside exact ones


def _corpus_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of even-id docs (ids offset by 1e6)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


# DuckDB twin of _corpus_with_exact_dups, as the ``corpus`` CTE.
_EXACT_CORPUS_CTE = f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, text FROM documents WHERE doc_id % 2 = 0
)"""


def _near_copies(d: DataFrame, offset: int = _DUP_OFFSET) -> DataFrame:
    """Near-copies of every 5th doc of a (doc_id, text) frame, ids shifted
    by ``offset``, last token dropped — Jaccard vs the original ≈ (n-3)/n
    on 3-token shingles, well above any near-dup threshold for realistic
    lengths."""
    toks = tokens()
    # The >= 2 guard pins the degenerate case: dropping a single-token
    # document's only token leaves NO text — Spark's array_join([]) is ''
    # but the oracles' array_to_string([]) is NULL, so without the guard
    # the two engines disagree on whether the mutated doc exists at all
    # (found by the null tier via its empty-text rows).
    return d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.when(
            F.size(toks) >= 2,
            F.array_join(F.slice(toks, 1, F.size(toks) - 1), " "),
        ).alias("text"),
    )


def _corpus_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ _near_copies of every 5th doc (ids offset by 1e6)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    return d.unionByName(_near_copies(d))


# DuckDB twin of _corpus_with_near_dups, as (doc_id, toks).
_NEAR_CORPUS_CTE = f"""corpus AS (
  SELECT doc_id, {tokens_sql()} AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice({tokens_sql()}, 1, len({tokens_sql()}) - 1)
  FROM documents WHERE doc_id % 5 = 0
)"""


def _shingles_sql(each: str = "{}", distinct: bool = True) -> str:
    """Spark SQL over a ``toks`` array column: its SHINGLE_K-token shingles
    (one shingle when the document is shorter), each passed through the
    ``each`` format string, de-duplicated when ``distinct``.

    The explicit NULL branch is load-bearing: Spark's size(NULL) is -1
    (legacy sizeOfNull) and concat_ws(' ', NULL) is '' — without it a NULL
    document mints the [''] shingle set, identical signatures, and every
    NULL doc pairs with every other (found by the null-injected tier: 238
    phantom pairs). DuckDB's list ops NULL-propagate, so the oracles
    already exclude them."""
    shingle = each.format(f"concat_ws(' ', slice(toks, i, {SHINGLE_K}))")
    arr = (
        f"transform(sequence(1, greatest(size(toks) - {SHINGLE_K - 1}, 1)), "
        f"i -> {shingle})"
    )
    if distinct:
        arr = f"array_distinct({arr})"
    return f"CASE WHEN toks IS NULL THEN NULL ELSE {arr} END"


_SHINGLES_EXPR = _shingles_sql()

# DuckDB twin of one shingle: tokens i .. i + SHINGLE_K - 1 of ``toks``.
_DUCK_SHINGLE = f"array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')"


def _shingled_docs(corpus: DataFrame) -> DataFrame:
    """(doc_id, shingles) of a (doc_id, text) corpus, persisted through
    op_cache. Every consumer reads it more than once (signature build,
    index, both verify sides), and exploding a generator whose input is the
    shingle transform over an uncached corpus re-evaluates the tokenization
    pathologically (60+ s/pass vs 0.3 s from cache on the extremes tier's
    100k-char documents)."""
    return (
        corpus.withColumn("toks", tokens())
        .selectExpr("doc_id", f"{_SHINGLES_EXPR} AS shingles")
        .transform(op_cache)
    )


# (doc_id, toks) of the documents table, a _shingled_cte source.
_DOCS_TOKS_SQL = f"(SELECT doc_id, {tokens_sql()} AS toks FROM documents)"


def _shingled_cte(source: str = "corpus") -> str:
    """DuckDB twin of _shingled_docs: the ``shingled`` CTE over ``source``,
    a relation of (doc_id, toks). The split stays in ``source``, outside
    the lambda: inlined, DuckDB re-splits the text per shingle —
    O(tokens × chars), 33-66 s on 100k-char documents."""
    return f"""shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> {_DUCK_SHINGLE}
         )) AS shingles
  FROM {source}
)"""


def _with_shingle_sets(
    pairs: DataFrame,
    docs: DataFrame,
    sf_dir: str,
    ids: tuple[str, str] = ("id1", "id2"),
) -> DataFrame:
    """``pairs`` with the shingle arrays of its two ``ids`` columns
    attached as sh1 and sh2. hint_array_side (scale.py): the shingle-ARRAY
    relation must never be estimator-driven — Catalyst sizes a narrow
    projection of the cached table and under-counts the arrays (measured
    at 10x sf0.1: a driver-OOM broadcast build). Shuffle-hash while
    documents is provably tiny, spillable sort-merge once it is not (SHJ
    builds can't spill — the sfx1.0 can't-acquire class)."""
    for key, sh in zip(ids, ("sh1", "sh2")):
        side = docs.select(F.col("doc_id").alias(key), F.col("shingles").alias(sh))
        pairs = pairs.join(hint_array_side(side, sf_dir, "documents"), key)
    return pairs


def _n_common() -> Column:
    """|sh1 ∩ sh2|: shingles two attached sets share (both are distinct)."""
    return F.size(F.array_intersect("sh1", "sh2"))


def _jaccard() -> Column:
    """Exact Jaccard of the attached shingle sets sh1 and sh2."""
    return _n_common().cast("double") / F.size(F.array_union("sh1", "sh2")).cast(
        "double"
    )


# DuckDB twins of _n_common and _jaccard over shingled rows s1 and s2.
_DUCK_N_COMMON = "len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))"
_DUCK_JACCARD = (
    f"CAST({_DUCK_N_COMMON} AS DOUBLE)\n"
    f"         / (len(s1.shingles) + len(s2.shingles) - {_DUCK_N_COMMON})"
)


# A shingle in more documents than this is boilerplate, not evidence of a
# near-duplicate: the near-dup index keeps only shingles at or under it.
DF_CAP = 50


def _rare_shingle_index(docs: DataFrame) -> DataFrame:
    """(doc_id, sz, h) rows of the shingled docs: one row per (document,
    shingle) whose shingle has STRING-level document frequency <= DF_CAP
    (the oracles' cap), with sz = the document's shingle count and h =
    xxhash64(shingle), built in ONE exchange on h. The DF window partitions by (h, sh), which the h
    partitioning already satisfies, and a self-join on h reuses that same
    exchange on both sides. Shared by dedup_ngram_jaccard and
    text_containment_pairs; pinned against a pure string-level cap in
    tests/test_plans.py::test_rare_shingle_index_matches_string_level_cap.

    The self-join runs on h, so two DIFFERENT strings sharing a 64-bit hash
    count as one common shingle: the n_common a caller derives is >= the
    string-level count, which only ADMITS extra pairs to the callers' exact
    string-level verify. The one possible divergence from the oracle is a
    pair whose prefilter only a collision-inflated count passes AND that
    then passes exact verify (p ~ 2^-64 per shingle pair)."""
    rows = (
        docs.select(
            "doc_id",
            F.size("shingles").alias("sz"),
            F.explode("shingles").alias("sh"),
        )
        .withColumn("h", F.xxhash64("sh"))
        .repartition("h")
    )
    df = F.count(F.lit(1)).over(Window.partitionBy("h", "sh"))
    return (
        rows.withColumn("df", df)
        .filter(F.col("df") <= DF_CAP)
        .select("doc_id", "sz", "h")
    )


@register(
    "dedup_exact",
    oracle=f"""
WITH {_EXACT_CORPUS_CTE},
hashed AS (SELECT doc_id, sha256(text) AS text_sha FROM corpus),
ranked AS (
  SELECT doc_id, text_sha,
         row_number() OVER (PARTITION BY text_sha ORDER BY doc_id) AS rn,
         count(*)     OVER (PARTITION BY text_sha)                 AS n_copies
  FROM hashed
)
SELECT doc_id AS keep_id, text_sha, n_copies FROM ranked WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on SHA-256(text): keep the lowest doc_id per hash, report
    copy counts. The hash window shuffles one row per document on the digest
    — uniform keys, no skew, the canonical 100 TB exact-dedup plan."""
    corpus = _corpus_with_exact_dups(spark, sf_dir)
    hashed = corpus.select("doc_id", F.sha2("text", 256).alias("text_sha"))
    w = Window.partitionBy("text_sha")
    ranked = hashed.select(
        "doc_id",
        "text_sha",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("keep_id"), "text_sha", "n_copies"
    )


# Carter-Wegman universal hashing over one base digest: h_i(x) =
# (A_i * (H(x) % P) + B_i) % P with P = 2^31 - 1 (Mersenne). ONE md5 per
# shingle row instead of N_HASHES — the hash work in the signature map
# stage drops 32x, and every product stays < 2^62 so the arithmetic is
# overflow-identical in Spark (silent-wrap) and DuckDB (which would ERROR
# on int64 overflow — staying in-range is what makes this portable).
_MERSENNE_P = (1 << 31) - 1
_CW_A = [(i * 2654435761 + 104729) % _MERSENNE_P or 1 for i in range(N_HASHES)]
_CW_B = [(i * 40503 + 7919) % _MERSENNE_P for i in range(N_HASHES)]


# Plan-construction invariant of the MinHash stages below: each stage is ONE
# parsed SQL expression (selectExpr / F.expr / one inline() of structs),
# never a loop of Column operations. Every intermediate Column costs a py4j
# round trip and an eager re-analysis of the growing plan: the per-term
# loops (32 CW aggregates, 8 band structs) measured ~0.5 s of driver-side
# DataFrame build per call against ~0.1 s of Catalyst analyze + optimize +
# physical planning at sf0.1. The parsed trees are term for term the Column
# forms (int literals * bigint hm, silent wrap, every product < 2^62), and
# the SQL text matches the DuckDB twins.


def _minhash_band_bucket(prefix: str, band: int, rows: int = ROWS_PER_BAND) -> str:
    """Band-bucket combine (both dialects): polynomial roll of the band's
    ``rows`` minhash values — each value < 2^31 and every step is reduced
    mod P, so no intermediate reaches 2^36: overflow-free in both
    engines."""
    expr = str(band)
    for k in range(rows):
        expr = f"(({expr}) * 31 + {prefix}{band * rows + k}) % {_MERSENNE_P}"
    return f"CAST({expr} AS BIGINT)"


def _cw_sig_agg_exprs() -> list:
    """The N_HASHES Carter-Wegman min-hash aggregates, one parsed SQL
    expression each."""
    return [
        F.expr(f"min(({_CW_A[i]} * hm + {_CW_B[i]}) % {_MERSENNE_P}) AS h{i}")
        for i in range(N_HASHES)
    ]


def _minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, h0 .. h31): the Carter-Wegman MinHash signature of the
    shingled docs — ONE portable md5-derived base hash per shingle, then 32
    affine transforms mod 2³¹−1, one shuffle on doc_id."""
    return (
        docs.selectExpr("doc_id", "explode(shingles) AS shingle")
        .selectExpr("doc_id", f"{hash60_expr('shingle')} % {_MERSENNE_P} AS hm")
        .groupBy("doc_id")
        .agg(*_cw_sig_agg_exprs())
    )


# DuckDB twin of _minhash_signature over the ``shingled`` CTE.
_SIG_CTE = f"""sp AS (SELECT doc_id, {hash60_sql("shingle")} % {_MERSENNE_P} AS hm
       FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)),
sig AS MATERIALIZED (
  SELECT doc_id,
         {", ".join("min((%d * hm + %d) %% %d) AS h%d" % (_CW_A[i], _CW_B[i], _MERSENNE_P, i) for i in range(N_HASHES))}
  FROM sp GROUP BY doc_id
)"""

# corpus → shingled → sig over the _corpus_with_near_dups fixture
_SIG_CTES = f"{_NEAR_CORPUS_CTE},\n{_shingled_cte()},\n{_SIG_CTE}"

_BAND_STRUCTS = ", ".join(
    f"named_struct('band', {b}, 'bucket', {_minhash_band_bucket('h', b)})"
    for b in range(N_BANDS)
)


def _minhash_near_pairs(docs: DataFrame, sf_dir: str) -> DataFrame:
    """(id1, id2, jaccard) near-dup pairs of the shingled docs: signature →
    8 bands × 4 rows → (band, bucket) equality self-join for candidates →
    exact Jaccard on the candidate pairs only → pairs ≥ 0.6.

    bounded_self_join (scale.py) is unhinted / estimator-driven while the
    corpus bytes are provably small and a spillable sort-merge once the
    text-derived banded relation stops being provably tiny."""
    banded = _minhash_signature(docs).selectExpr(
        "doc_id", f"inline(array({_BAND_STRUCTS}))"
    )
    cand = bounded_self_join(
        banded, ["band", "bucket"], "doc_id", sf_dir, "documents",
        gate=_ARRAY_GATE,
    ).distinct()
    return (
        _with_shingle_sets(cand, docs, sf_dir)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= 0.6)
        .select("id1", "id2", "jaccard")
    )


def _banded_sql(bands: int, rows: int) -> str:
    """DuckDB: (doc_id, band, bucket) rows of ``sig`` for one banding."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, {_minhash_band_bucket('h', j, rows)} AS bucket"
        " FROM sig"
        for j in range(bands)
    )


# DuckDB twin of _minhash_near_pairs: the banded/cand CTEs over ``sig``,
# then the verify query of (id1, id2, jaccard) over ``cand`` and ``shingled``.
_LSH_CAND_CTES = f"""banded AS (
  {_banded_sql(N_BANDS, ROWS_PER_BAND)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

_LSH_VERIFY_SQL = f"""SELECT id1, id2, {_DUCK_JACCARD} AS jaccard
FROM cand
JOIN shingled s1 ON s1.doc_id = id1
JOIN shingled s2 ON s2.doc_id = id2
WHERE {_DUCK_JACCARD} >= 0.6"""


def _simhash_vote_agg_exprs() -> list:
    """dedup_simhash's 64 per-bit vote aggregates, each ONE parsed SQL
    expression (the _cw_sig_agg_exprs driver-build rewrite applied to the
    simhash family): the Column loop — shiftright/bitwiseAND/when per bit —
    issued ~6 py4j round trips per bit with eager re-analysis per
    intermediate. IF(cond, 1, -1) is exactly when(cond, 1).otherwise(-1):
    a NULL condition takes the ELSE branch in both forms."""
    return [
        F.expr(
            f"sum(IF((shiftright(hc{b // 16}, {b % 16}) & 1) = 1, 1, -1))"
            f" AS v{b}"
        )
        for b in range(64)
    ]


# The four 16-bit signature chunks from the vote columns, one parsed
# expression: bit b of chunk c is set iff vote v{16c+b} is positive. Integer
# IF-sums per chunk stay under 2^16, cast to BIGINT exactly as the Column
# form's .cast("long") did.
_SIMHASH_CHUNKS_EXPR = "array({})".format(
    ", ".join(
        "CAST("
        + " + ".join(f"IF(v{c * 16 + b} > 0, {1 << b}, 0)" for b in range(16))
        + " AS BIGINT)"
        for c in range(4)
    )
)


_MINHASH_ORACLE = f"""
WITH {_SIG_CTES},
{_LSH_CAND_CTES}
{_LSH_VERIFY_SQL}
"""


@register("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs (Broder 1997), DataFrame-pure:

    3-token shingles → ONE portable md5-derived base hash per shingle →
    32 minhash values via Carter-Wegman affine transforms mod 2³¹−1
    (cheap int math replaces 32 per-row digests) → 8 bands × 4 rows →
    band-bucket self-join for candidates → exact Jaccard verify on
    candidate pairs → pairs ≥ 0.6. Every step is engine-portable, so the
    whole pipeline — signatures, banding, candidates, verification — is
    oracle-verified end-to-end (rows-only until round 4).

    Deliberately NOT pyspark.ml's MinHashLSH: plain expressions keep the
    hash deterministic and Catalyst in charge of the joins. The only
    shuffles are groupBy(doc_id) for signatures and the (band, bucket)
    equality join — candidate verification touches candidate pairs only.
    """
    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_dir))
    return _minhash_near_pairs(docs, sf_dir)


def _simhash_votes_duck() -> str:
    """64 per-bit vote aggregates: bit b of the signature comes from bit
    b%16 of the portable chunk-seeded hash hc{b//16}."""
    return ", ".join(
        "sum(CASE WHEN (hc%d >> %d) & 1 = 1 THEN 1 ELSE -1 END) AS v%d"
        % (b // 16, b % 16, b)
        for b in range(64)
    )


def _simhash_chunk_duck(c: int) -> str:
    terms = " + ".join(
        "CASE WHEN v%d > 0 THEN %d ELSE 0 END" % (c * 16 + b, 1 << b)
        for b in range(16)
    )
    return f"CAST({terms} AS BIGINT)"


_SIMHASH_ORACLE = f"""
WITH {_EXACT_CORPUS_CTE},
tok AS (SELECT doc_id, unnest({tokens_sql()}) AS tok FROM corpus),
th AS (
  SELECT doc_id,
         {", ".join("CAST('0x'||substring(md5(tok), %d, 4) AS BIGINT) AS hc%d" % (c * 4 + 1, c) for c in range(4))}
  FROM tok
),
votes AS (SELECT doc_id, {_simhash_votes_duck()} FROM th GROUP BY doc_id),
sig AS MATERIALIZED (
  SELECT doc_id,
         {", ".join(_simhash_chunk_duck(c) + " AS c%d" % c for c in range(4))}
  FROM votes
),
chunked AS (
  {" UNION ALL ".join("SELECT doc_id, %d AS chunk_idx, c%d AS chunk_val FROM sig" % (c, c) for c in range(4))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM chunked a JOIN chunked b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT id1, id2,
       CAST(bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1))
          + bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3))
         AS BIGINT) AS hamming
FROM cand
JOIN sig s1 ON s1.doc_id = id1
JOIN sig s2 ON s2.doc_id = id2
WHERE bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1))
    + bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3)) <= 3
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (Charikar 2002 / Manku et al. 2007):

    64-bit simhash per doc — each token hashes to 64 bits, each bit
    contributes ±1, the sign of the per-bit sum is the signature bit. The
    signature is materialized as four 16-bit chunks; by the pigeonhole
    argument, hamming(a,b) ≤ 3 ⇒ at least one chunk is equal, so candidate
    generation is an equality join on (chunk_idx, chunk_value) and exact
    hamming distance is verified on candidates only.

    Bit b of the signature is bit b%16 of hex-slice b//16 of ONE portable
    md5 digest per token (chunk c = hex chars [4c+1, 4c+4] parsed as a
    16-bit int — one digest, four cheap substring parses), so DuckDB
    reproduces the signatures exactly and the operator is oracle-verified
    end-to-end.
    """
    corpus = _corpus_with_exact_dups(spark, sf_dir)
    # (doc, chunk-hash) rows, then 64 conditional sums — all whole-stage
    # codegen, one shuffle on doc_id. (A first cut folded 64-wide arrays with
    # aggregate(zip_with(...)) per row; that was ~20x slower.)
    tok_hash = corpus.select(
        "doc_id", F.explode(tokens()).alias("tok")
    ).select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substring(md5(tok), {c * 4 + 1}, 4), 16, 10) AS BIGINT)"
            ).alias(f"hc{c}")
            for c in range(4)
        ],
    )
    votes = tok_hash.groupBy("doc_id").agg(*_simhash_vote_agg_exprs())
    sig = votes.selectExpr("doc_id", f"{_SIMHASH_CHUNKS_EXPR} AS chunks")

    chunked = sig.select(
        "doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk_val")
    )
    # Scale posture for the bucket self-join (the link-prediction medicine,
    # measured at the sfx1.0 sweep): hot chunk buckets blow up
    # quadratically — spillable sort-merge instead of an AQE-estimated
    # broadcast/non-spillable SHJ build, and the pair explosion goes
    # through a size-tiered wide exchange (AQE cannot coalesce an explicit
    # repartition) that the distinct reuses. All via the shared bounded
    # pair generator (scale.py; 1 MiB gate — signatures derive from text).
    from ai_dataingestion_spark.scale import ARRAY_TABLE_BYTES, bounded_self_join

    cand = bounded_self_join(
        chunked, ["chunk_idx", "chunk_val"], "doc_id", sf_dir, "documents",
        gate=ARRAY_TABLE_BYTES, spark=spark,
    ).distinct()
    c1 = sig.select(F.col("doc_id").alias("id1"), F.col("chunks").alias("ch1"))
    c2 = sig.select(F.col("doc_id").alias("id2"), F.col("chunks").alias("ch2"))
    hamming = F.expr(
        "aggregate(zip_with(ch1, ch2, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v)"
    )
    from ai_dataingestion_spark.scale import hint_merge_if_large

    return (
        cand.join(
            hint_merge_if_large(c1, sf_dir, "documents", ARRAY_TABLE_BYTES), "id1"
        )
        .join(
            hint_merge_if_large(c2, sf_dir, "documents", ARRAY_TABLE_BYTES), "id2"
        )
        .withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= 3)
        .select("id1", "id2", "hamming")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_NEAR_CORPUS_CTE},
{_shingled_cte()},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
df AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= {DF_CAP}),
rare AS (SELECT inv.doc_id, inv.shingle FROM inv JOIN df USING (shingle)),
cand AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
prefiltered AS (
  SELECT id1, id2
  FROM cand
  JOIN shingled s1 ON s1.doc_id = id1
  JOIN shingled s2 ON s2.doc_id = id2
  WHERE 3 * n_common >= len(s1.shingles) + len(s2.shingles)
),
verified AS (
  SELECT id1, id2, {_DUCK_JACCARD} AS jaccard
  FROM prefiltered
  JOIN shingled s1 ON s1.doc_id = id1
  JOIN shingled s2 ON s2.doc_id = id2
)
SELECT id1, id2, jaccard FROM verified WHERE jaccard >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a rare-shingle inverted index:

    candidates = docs sharing ≥1 shingle with document frequency ≤ 50 (the
    DF cap is the skew guard — hot shingles would otherwise quadratically
    blow up the self-join), then exact Jaccard over full shingle sets on the
    candidate pairs, threshold 0.5. Fully SQL-expressible, so unlike the
    MinHash path this one is oracle-verified end-to-end.

    Recall contract under exact duplication: every copy of a document
    inflates ALL its shingles' DF, so once a family's copy count exceeds
    the cap its shingles stop being rare and the family yields no
    candidates (measured: 0 rows on the 10x-replicated sfx1.0 corpus,
    where every text has ~10 identical copies — SCALE.md round 15). The
    cap must stay ABSOLUTE, not corpus-relative: candidates per shingle
    are O(DF**2), so a relative cap reintroduces the quadratic blowup the
    cap exists to prevent. The designed pipeline runs exact dedup first
    (dedup_removal_plan's staged exact->near composition), which collapses
    identical copies and restores shingle rarity before this op runs.
    """
    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_dir))
    # count common rare shingles per pair; 3*I >= |A|+|B| is EXACTLY
    # J >= 0.5 when the DF cap doesn't bite, so almost all raw candidate
    # pairs die on integer counts before any shingle array is attached
    prefiltered = (
        bounded_self_join(
            _rare_shingle_index(docs), ["h"], "doc_id", sf_dir, "documents",
            gate=_ARRAY_GATE, per_side=["sz"],
        )
        .groupBy("id1", "id2", "sz1", "sz2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(3 * F.col("n_common") >= F.col("sz1") + F.col("sz2"))
        .select("id1", "id2")
    )
    inter = _n_common().cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    return (
        _with_shingle_sets(prefiltered, docs, sf_dir)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.5)
        .select("id1", "id2", "jaccard")
    )


_FP_WINDOW = 4      # rolling window width (tokens) for fingerprint hashes
_FP_KEEP = 8        # smallest window hashes kept per document
_FP_MIN_SHARED = 2  # candidate pairs must share >= this many hashes
_FP_DF_CAP = 50     # hashes in > this many docs are boilerplate: skip them


_FINGERPRINT_PAIRS_ORACLE = f"""
WITH {_NEAR_CORPUS_CTE},
fp AS MATERIALIZED (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(list_transform(
           range(1, greatest(len(toks) - {_FP_WINDOW - 2}, 2)),
           i -> {hash60_sql(f"array_to_string(list_slice(toks, i, i + {_FP_WINDOW - 1}), ' ')")}
         ))), 1, {_FP_KEEP}) AS fingerprint
  FROM corpus
),
inv AS (SELECT doc_id, unnest(fingerprint) AS h FROM fp),
df AS (SELECT h FROM inv GROUP BY h HAVING count(*) <= {_FP_DF_CAP}),
rare AS (SELECT inv.doc_id, inv.h FROM inv JOIN df USING (h))
SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_FP_MIN_SHARED}
"""


@register("dedup_fingerprint_pairs", oracle=_FINGERPRINT_PAIRS_ORACLE)
def dedup_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint candidate pairs (Schleimer et al. 2003,
    the MOSS approach): each document keeps its 8 smallest distinct rolling
    4-token-window hashes (portable md5-derived, oracle-reproducible); docs
    sharing >= 2 fingerprint hashes are near-dup candidates with the shared
    count reported. Candidate generation is an equality join on the hash,
    guarded by a document-frequency cap (hashes present in > 50 docs are
    template/boilerplate windows whose self-join fan-out would otherwise be
    quadratic in their popularity — the same skew guard as the shingle
    index); the shuffle carries 8 rows per document at any corpus size.
    The cap runs on the hash itself on BOTH sides (the hash IS the content
    key here; an md5 collision merging two windows' counts is ~2^-60 and
    the oracle applies the identical hash-level cap, so parity is exact)."""
    corpus = _corpus_with_near_dups(spark, sf_dir).withColumn(
        "toks", tokens()
    )
    window_hashes = F.expr(
        f"""
        transform(
          sequence(1, greatest(size(toks) - {_FP_WINDOW - 1}, 1)),
          i -> {hash60_expr(f"concat_ws(' ', slice(toks, i, {_FP_WINDOW}))")}
        )
        """
    )
    # op_cache: exploding the fingerprint transform over the corpus union
    # re-tokenizes pathologically on giant docs (extremes tier)
    fp = corpus.select(
        "doc_id",
        F.slice(
            F.array_sort(F.array_distinct(window_hashes)), 1, _FP_KEEP
        ).alias("fingerprint"),
    ).transform(op_cache)
    # the DF window runs within the one exchange on h that both self-join
    # sides reuse
    df = F.count(F.lit(1)).over(Window.partitionBy("h"))
    rare = (
        fp.select("doc_id", F.explode("fingerprint").alias("h"))
        .repartition("h")
        .withColumn("df", df)
        .filter(F.col("df") <= _FP_DF_CAP)
        .select("doc_id", "h")
    )
    return (
        bounded_self_join(
            rare, ["h"], "doc_id", sf_dir, "documents", gate=_ARRAY_GATE
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _FP_MIN_SHARED)
    )


_CONTAINMENT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, {tokens_sql()} AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice({tokens_sql()},
                    1, greatest(len({tokens_sql()}) // 2, {SHINGLE_K}))
  FROM documents WHERE doc_id % 7 = 0
),
{_shingled_cte()},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
df AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= {DF_CAP}),
rare AS (SELECT inv.doc_id, inv.shingle FROM inv JOIN df USING (shingle)),
cand AS (
  SELECT a.doc_id AS small_id, b.doc_id AS big_id, count(*) AS n_common
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT small_id, big_id,
       CAST({_DUCK_N_COMMON} AS DOUBLE) / len(s1.shingles) AS containment
FROM cand
JOIN shingled s1 ON s1.doc_id = small_id
JOIN shingled s2 ON s2.doc_id = big_id
WHERE 10 * n_common >= 8 * len(s1.shingles)
  AND CAST({_DUCK_N_COMMON} AS DOUBLE) / len(s1.shingles) >= 0.8
"""


@register("text_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup detection (Broder's containment
    coefficient): C(A,B) = |A∩B| / |A| over 3-token shingle sets, flagging
    documents mostly CONTAINED in another (excerpts, quotes, truncated
    copies) that symmetric Jaccard misses — at half-length, J ≈ 0.5 but
    C = 1.0. The fixture embeds a half-truncated copy of every 7th doc.

    Same scale shape as the Jaccard path: rare-shingle inverted index
    (DF ≤ 50 skew cap), integer n_common ≥ 0.8·|A| prefilter before any
    array work, exact shingle-set verify on surviving candidates only —
    never all-pairs. Directional: (small, big) ordered pairs. Same
    recall contract as dedup_ngram_jaccard under exact duplication:
    copy-inflated DF pushes a family's shingles past the cap (0 rows on
    the 10x-replicated sfx1.0 corpus); run exact dedup first — the cap
    stays absolute because candidates per shingle are O(DF**2)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    toks = tokens()
    truncated = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(
                    (F.size(toks) / 2).cast("int"), F.lit(SHINGLE_K)
                ),
            ),
            " ",
        ).alias("text"),
    )
    docs = _shingled_docs(d.unionByName(truncated))
    # ordered=False: containment roles are asymmetric (small-in-big), so
    # both pair directions are emitted and the containment filter decides.
    # The pair keys name sz2 too, although only sz1 is tested: both join
    # sides must select the same columns for the index exchange to be
    # reused.
    prefiltered = (
        bounded_self_join(
            _rare_shingle_index(docs), ["h"], "doc_id", sf_dir, "documents",
            gate=_ARRAY_GATE, out=("small_id", "big_id"), ordered=False,
            per_side=["sz"],
        )
        .groupBy("small_id", "big_id", "sz1", "sz2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(10 * F.col("n_common") >= 8 * F.col("sz1"))
        .select("small_id", "big_id")
    )
    containment = _n_common().cast("double") / F.size("sh1")
    return (
        _with_shingle_sets(prefiltered, docs, sf_dir, ("small_id", "big_id"))
        .withColumn("containment", containment)
        .filter(F.col("containment") >= 0.8)
        .select("small_id", "big_id", "containment")
    )


_N_EQ_SUM = " + ".join(
    f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)

_MINHASH_ERROR_ORACLE = f"""
WITH {_SIG_CTES},
pairs AS (
  SELECT a.doc_id AS doc_id, ({_N_EQ_SUM}) AS n_eq
  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + {_DUP_OFFSET}
  WHERE a.doc_id % 5 = 0 AND a.doc_id < {_DUP_OFFSET}
),
exact AS (
  SELECT p.doc_id, p.n_eq, {_DUCK_JACCARD} AS j_raw
  FROM pairs p
  JOIN shingled s1 ON s1.doc_id = p.doc_id
  JOIN shingled s2 ON s2.doc_id = p.doc_id + {_DUP_OFFSET}
)
SELECT doc_id,
       floor(j_raw * 1000000 + 0.5) / 1000000 AS jaccard_exact,
       CAST(n_eq AS DOUBLE) / {N_HASHES} AS jaccard_est,
       floor(abs(CAST(n_eq AS DOUBLE) / {N_HASHES} - j_raw) * 1000000 + 0.5)
         / 1000000 AS abs_err
FROM exact
"""


@register("dedup_minhash_estimate_error", oracle=_MINHASH_ERROR_ORACLE)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration: for every KNOWN near-dup pair (doc, doc with
    its last token dropped — the _corpus_with_near_dups fixture), the
    signature-estimated Jaccard (matching fraction of the 32 slots) next
    to the exact shingle-set Jaccard, per pair with absolute error — the
    introspection query that tells you whether 32 hashes are enough for
    your threshold before you trust an LSH sweep at corpus scale.
    Signatures are the same portable Carter-Wegman pipeline as
    dedup_near_minhash (oracle-identical end-to-end); the estimate k/32
    is binary-exact so only the exact-Jaccard ratio needs the portable
    floor(x·1e6+0.5)/1e6 rounding (SURVEY §5.4 round-tie trap)."""
    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_dir))
    # cache: both pair sides consume sig — uncached, Spark replays the
    # explode + 32-min aggregation per side. docs-count-sized (33 cols).
    sig = _minhash_signature(docs).transform(op_cache)
    a = sig.alias("a")
    b = sig.alias("b")
    n_eq = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + _DUP_OFFSET)
        .filter((F.col("a.doc_id") % 5 == 0) & (F.col("a.doc_id") < _DUP_OFFSET))
        .select(F.col("a.doc_id").alias("doc_id"), n_eq.alias("n_eq"))
    )
    s1 = docs.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    s2 = docs.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    inter = _n_common()
    union = F.size("sh1") + F.size("sh2") - inter
    j_raw = inter.cast("double") / union
    est = F.col("n_eq").cast("double") / N_HASHES
    return (
        pairs.join(s1, F.col("doc_id") == F.col("d1"))
        .join(s2, F.col("doc_id") + _DUP_OFFSET == F.col("d2"))
        .select(
            "doc_id",
            (F.floor(j_raw * 1_000_000 + 0.5) / 1_000_000).alias("jaccard_exact"),
            est.alias("jaccard_est"),
            (F.floor(F.abs(est - j_raw) * 1_000_000 + 0.5) / 1_000_000).alias(
                "abs_err"
            ),
        )
    )


# (bands, rows_per_band) sweep configs — all consume the same 32-value
# signature. r >= 2 keeps single-hash buckets (threshold 0.03, quadratic
# hot buckets) out of the sweep.
_TUNE_CONFIGS = [(16, 2), (8, 4), (4, 8), (2, 16)]


def _tune_config_sql(b: int, r: int) -> str:
    banded = _banded_sql(b, r)
    return f"""
SELECT {b} AS bands, {r} AS rows_per_band,
       floor(pow(1.0 / {b}, 1.0 / {r}) * 1000000 + 0.5) / 1000000
         AS threshold_50,
       (SELECT count(*) FROM (
          SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
          FROM ({banded}) a JOIN ({banded}) b2
            ON a.band = b2.band AND a.bucket = b2.bucket
               AND a.doc_id < b2.doc_id
       )) AS n_candidate_pairs
"""


@register(
    "dedup_lsh_band_tuning",
    oracle=f"WITH {_SIG_CTES}\n"
    + "\nUNION ALL\n".join(_tune_config_sql(b, r) for b, r in _TUNE_CONFIGS),
)
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band/row tuning sweep (the S-curve knob of Broder-style
    near-dup detection): ONE 32-value Carter-Wegman signature relation,
    re-banded four ways — (16 bands × 2 rows) … (2 × 16) — reporting the
    theoretical 50%-collision threshold (1/b)^(1/r) next to the MEASURED
    distinct candidate-pair count per configuration. This is the
    introspection that turns the 0.6-threshold default of
    dedup_near_minhash into an informed choice: more bands → lower
    threshold → more candidates to verify. The signature build (the
    expensive shuffle) is shared and cached across all four configs;
    each config adds only a (band, bucket) equality self-join on
    signature-width rows. Single-hash bands (r=1) are excluded — their
    0.03 threshold makes hot buckets quadratic."""
    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_dir))
    sig = _minhash_signature(docs).transform(op_cache)
    # All four bandings explode from the cached signature ONCE into a
    # single (bands, rows, band, bucket)-keyed relation — 16+8+4+2 = 30
    # rows per document — so ONE candidate self-join, ONE distinct and ONE
    # groupBy serve every config, and the signature subtree appears twice
    # in the plan (one per join side), not eight times as in a branch per
    # config. Per-config pair counts equal separate bandings': the config
    # columns are part of the block key, so pairs never cross configs.
    structs = ", ".join(
        f"named_struct('bands', {b}, 'rows_per_band', {r}, 'band', {j}, "
        f"'bucket', {_minhash_band_bucket('h', j, r)})"
        for b, r in _TUNE_CONFIGS
        for j in range(b)
    )
    banded = sig.selectExpr("doc_id", f"inline(array({structs}))")
    counts = (
        bounded_self_join(
            banded, ["bands", "rows_per_band", "band", "bucket"], "doc_id",
            sf_dir, "documents", gate=_ARRAY_GATE,
            carry=["bands", "rows_per_band"],
        )
        .select("bands", "rows_per_band", "id1", "id2")
        .distinct()
        .groupBy("bands", "rows_per_band")
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    )
    # Every config emits a row even with zero candidates (a groupBy drops
    # empty groups — the empty-corpus contract): left join the counts onto
    # the 4-row config relation. threshold_50 is a PYTHON-computed literal
    # per config (CPython libm pow), never a per-row JVM Math.pow — the two
    # can differ in the last ulp. repr() round-trips the double exactly, and
    # the D suffix keeps the SQL literal a DOUBLE (a bare decimal literal
    # parses as DECIMAL and would change the output type); the floor-based
    # 6-dp rounding stays in SQL, identical to pround.
    stack_args = ", ".join(
        f"{b}, {r}, floor({(1.0 / b) ** (1.0 / r)!r}D * 1000000 + 0.5) / 1000000"
        for b, r in _TUNE_CONFIGS
    )
    configs = spark.range(1).selectExpr(
        f"stack(4, {stack_args}) AS (bands, rows_per_band, threshold_50)"
    )
    return configs.join(
        F.broadcast(counts), ["bands", "rows_per_band"], "left"
    ).selectExpr(
        "bands",
        "rows_per_band",
        "threshold_50",
        "coalesce(n_candidate_pairs, 0L) AS n_candidate_pairs",
    )


_REMOVAL_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET},
         array_to_string(list_slice({tokens_sql()}, 1,
           len({tokens_sql()}) - 1), ' ')
  FROM documents WHERE doc_id % 5 = 0
)
"""


@register(
    "dedup_removal_plan",
    oracle="WITH "
    + _REMOVAL_CORPUS_SQL
    + f""",
exact_removed AS (
  SELECT doc_id, 'exact' AS reason FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM corpus)
  WHERE rn > 1
),
toksed AS (SELECT doc_id, {tokens_sql()} AS toks FROM corpus),
{_shingled_cte("toksed")},
{_SIG_CTE},
{_LSH_CAND_CTES},
near_pairs AS (
{_LSH_VERIFY_SQL}
),
near_removed AS (
  SELECT DISTINCT id2 AS doc_id, 'near' AS reason FROM near_pairs
),
decisions AS (
  SELECT doc_id, reason, 1 AS prio FROM exact_removed
  UNION ALL
  SELECT doc_id, reason, 2 FROM near_removed
)
SELECT doc_id, reason FROM (
  SELECT doc_id, reason,
         row_number() OVER (PARTITION BY doc_id ORDER BY prio) AS rn
  FROM decisions)
WHERE rn = 1
""",
)
def dedup_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup REMOVAL PLAN — the artifact a training-data
    pipeline actually ships: one (doc_id, reason) work-list composing
    byte-exact dedup (md5 groups, keep the smallest id) and MinHash
    near-dup dedup (LSH candidates → Jaccard ≥ 0.6 verify → remove the
    larger id of each pair), with priority semantics: a doc caught by
    both is attributed to the CHEAPER stage that would have removed it
    first (exact > near), mirroring how staged dedup short-circuits at
    scale. The corpus carries BOTH injection idioms (exact copies of
    even ids at +1e6, last-token-dropped near copies of %5 ids at +2e6)
    so each stage's recall is independently verifiable. Every stage is
    the proven scale shape: hash groupBy for exact, banded signature
    equality join for near — text never shuffles past the shingle
    explode."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    corpus = _corpus_with_exact_dups(spark, sf_dir).unionByName(
        _near_copies(d, _NEAR_OFFSET)
    )
    # stage 1: byte-exact — hash groupBy, keep min id per group
    w_exact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_removed = (
        corpus.withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") > 1)
        .select("doc_id", F.lit("exact").alias("reason"), F.lit(1).alias("prio"))
    )
    # stage 2: MinHash LSH near-dup — remove the larger id of each pair
    near_removed = (
        _minhash_near_pairs(_shingled_docs(corpus), sf_dir)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit("near").alias("reason"), F.lit(2).alias("prio"))
    )
    decisions = exact_removed.unionByName(near_removed)
    w_prio = Window.partitionBy("doc_id").orderBy("prio")
    return (
        decisions.withColumn("rn", F.row_number().over(w_prio))
        .filter(F.col("rn") == 1)
        .select("doc_id", "reason")
    )


_EVAL_ORACLE = (
    "WITH detected AS (" + _MINHASH_ORACLE + "),\n"
    + f"""
truth AS (
  SELECT doc_id AS id1, doc_id + {_DUP_OFFSET} AS id2
  FROM documents WHERE doc_id % 5 = 0
),
tp AS (
  SELECT count(*) AS n FROM detected d
  WHERE EXISTS (SELECT 1 FROM truth t
                WHERE t.id1 = d.id1 AND t.id2 = d.id2)
),
counts AS (
  SELECT (SELECT count(*) FROM detected) AS n_detected,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT n FROM tp) AS n_tp
)
SELECT n_detected, n_truth, n_tp,
       floor(CAST(n_tp AS DOUBLE) / n_detected * 1000000 + 0.5) / 1000000
         AS precision_vs_truth,
       floor(CAST(n_tp AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000
         AS recall,
       floor(2.0 * (CAST(n_tp AS DOUBLE) / n_detected)
             * (CAST(n_tp AS DOUBLE) / n_truth)
             / (CAST(n_tp AS DOUBLE) / n_detected
                + CAST(n_tp AS DOUBLE) / n_truth) * 1000000 + 0.5) / 1000000
         AS f1
FROM counts
"""
)


@register("dedup_eval_precision_recall", oracle=_EVAL_ORACLE)
def dedup_eval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector EVALUATION against injected ground truth: the
    dedup_near_minhash detector runs (_minhash_near_pairs), and its
    detected pairs are scored against the known injection set (every 5th
    doc's last-token-dropped copy) — precision-vs-truth, recall, F1.
    Recall < 1 means signatures or banding regressed; precision-vs-truth
    < 1 means the detector ALSO finds organic near-dups (legitimate —
    which is why the metric is named against-truth, not absolute). This
    is the measurement layer a dedup pipeline ships with: the same
    operator, re-pointed at a labeled corpus, becomes its regression
    gate."""
    docs = _shingled_docs(_corpus_with_near_dups(spark, sf_dir))
    # detected feeds BOTH the true-positive semi-join and the n_detected
    # count: uncached, the whole LSH candidate + verify chain would run once
    # per branch. The cached relation is two ids per detected pair.
    detected = (
        _minhash_near_pairs(docs, sf_dir).select("id1", "id2").transform(op_cache)
    )
    truth = (
        Tables(spark, sf_dir)
        .documents.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id1"),
            (F.col("doc_id") + _DUP_OFFSET).alias("id2"),
        )
    )
    tp = detected.join(truth, ["id1", "id2"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    nd = detected.agg(F.count(F.lit(1)).alias("n_detected"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    j = nd.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(tp))
    prec = F.col("n_tp").cast("double") / F.col("n_detected")
    rec = F.col("n_tp").cast("double") / F.col("n_truth")
    return j.select(
        "n_detected",
        "n_truth",
        "n_tp",
        pround(prec).alias("precision_vs_truth"),
        pround(rec).alias("recall"),
        pround(2.0 * prec * rec / (prec + rec)).alias("f1"),
    )


@register(
    "text_shingle_df_spectrum",
    oracle=f"""
WITH {_shingled_cte(_DOCS_TOKS_SQL)},
df AS (
  SELECT shingle, count(*) AS doc_freq
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)
  GROUP BY shingle
)
SELECT doc_freq, count(*) AS n_shingles
FROM df GROUP BY doc_freq
""",
)
def text_shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency spectrum of 3-token shingles: how many
    distinct shingles appear in exactly k documents — the measurement
    that justifies (or refutes) the DF_CAP the near-dup index rests on:
    the tail above the cap is the shingle mass the index drops. Two
    chained partial-aggregable groupBys; the spectrum is ≤ max-df rows."""
    docs = _shingled_docs(Tables(spark, sf_dir).documents)
    df = (
        docs.select("doc_id", F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return df.groupBy("doc_freq").agg(F.count(F.lit(1)).alias("n_shingles"))


_FACTORS = (1, 2, 5, 10, 25, 50)


@register(
    "text_shingle_df_cap_loss",
    oracle=f"""
WITH {_shingled_cte(_DOCS_TOKS_SQL)},
inst AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
df AS MATERIALIZED (SELECT sh, count(*) AS d FROM inst GROUP BY sh),
spectrum AS MATERIALIZED (SELECT d, count(*) AS n_sh FROM df GROUP BY d),
per_doc AS (
  SELECT i.doc_id, min(f.d) AS min_df FROM inst i JOIN df f USING (sh)
  GROUP BY i.doc_id
),
mind AS MATERIALIZED (
  SELECT min_df AS d, count(*) AS n_docs FROM per_doc GROUP BY min_df
),
factors AS (SELECT unnest([{", ".join(str(f) for f in _FACTORS)}]) AS k),
sh_curve AS (
  SELECT f.k,
         sum(s.n_sh) AS n_shingles,
         sum(CASE WHEN s.d * f.k > {DF_CAP} THEN s.n_sh ELSE 0 END) AS n_capped,
         sum(s.d * s.n_sh) AS inst_total,
         sum(CASE WHEN s.d * f.k > {DF_CAP} THEN s.d * s.n_sh ELSE 0 END)
           AS inst_capped
  FROM factors f CROSS JOIN spectrum s GROUP BY f.k
),
doc_curve AS (
  SELECT f.k,
         sum(m.n_docs) AS n_docs,
         sum(CASE WHEN m.d * f.k > {DF_CAP} THEN m.n_docs ELSE 0 END)
           AS n_docs_blind
  FROM factors f CROSS JOIN mind m GROUP BY f.k
)
SELECT CAST(s.k AS BIGINT) AS dup_factor,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(s.n_capped AS BIGINT) AS n_capped,
       round(CAST(s.n_capped AS DOUBLE) / CAST(s.n_shingles AS DOUBLE), 6)
         AS capped_frac,
       CAST(s.inst_total AS BIGINT) AS inst_total,
       CAST(s.inst_capped AS BIGINT) AS inst_capped,
       round(CAST(s.inst_capped AS DOUBLE) / CAST(s.inst_total AS DOUBLE), 6)
         AS inst_loss_frac,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(d.n_docs_blind AS BIGINT) AS n_docs_blind,
       round(CAST(d.n_docs_blind AS DOUBLE) / CAST(d.n_docs AS DOUBLE), 6)
         AS docs_blind_frac
FROM sh_curve s JOIN doc_curve d USING (k)
""",
)
def text_shingle_df_cap_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall boundary DF_CAP puts on the rare-shingle near-dup index
    (dedup_ngram_jaccard / text_containment_pairs), measured in-band
    rather than discovered at scale: under uniform ×k corpus duplication
    every shingle's document frequency multiplies by exactly k, so the
    loss the cap would inflict on a ×k-duplicated corpus is computable
    from THIS corpus's DF spectrum — no ×k corpus is materialized. Per duplication factor k ∈ {1,2,5,10,
    25,50}: the fraction of the shingle vocabulary the cap discards
    (capped_frac), the fraction of doc-shingle candidate mass lost
    (inst_loss_frac), and the fraction of documents left with NO indexed
    shingle at all (docs_blind_frac — those documents are invisible to
    the near-dup pass and MUST be caught by the staged exact-dedup stage
    in front, the dedup_removal_plan contract). The curve's shape is the
    deploy gate: at docs_blind_frac ≈ 1 the near-dup pass sees no
    document at all. Everything reduces to the DF spectrum and the per-doc
    min-DF spectrum — two bounded relations crossed with a 6-row factor
    table — so the op costs one shingle pass + two small aggregations at
    any corpus size; fractions are single divisions of exact integer
    counts (no float-sum surface; the denominators are > 0 whenever a
    row exists — a shingle-free corpus emits ZERO rows on both engines,
    never a 0/0)."""
    docs = _shingled_docs(Tables(spark, sf_dir).documents)
    inst = docs.select("doc_id", F.explode("shingles").alias("sh"))
    # op_cache: df feeds BOTH the spectrum aggregate and the per-doc
    # min-DF join — uncached, the whole inst→groupBy(sh) shuffle runs
    # twice (measured: 11 exchanges, two full sh-partitioned passes)
    df = (
        inst.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(op_cache)
    )
    spectrum = df.groupBy("d").agg(F.count(F.lit(1)).alias("n_sh"))
    per_doc = (
        inst.join(df, "sh").groupBy("doc_id").agg(F.min("d").alias("min_df"))
    )
    mind = per_doc.groupBy(F.col("min_df").alias("d")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    factors = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _FACTORS])).alias("k")
    )

    def _curve(rel: DataFrame, weights: dict[str, tuple]) -> DataFrame:
        """Cross the (tiny) spectrum relation with the 6-row factor table
        and sum each weight total + its capped share per factor."""
        joined = factors.crossJoin(rel)
        aggs = []
        for total_name, (weight, capped_name) in weights.items():
            capped = F.when(
                F.col("d") * F.col("k") > DF_CAP, weight
            ).otherwise(F.lit(0))
            aggs.append(F.sum(weight).cast("bigint").alias(total_name))
            aggs.append(F.sum(capped).cast("bigint").alias(capped_name))
        return joined.groupBy("k").agg(*aggs)

    def _frac(capped_name: str, total_name: str):
        return F.round(
            F.col(capped_name).cast("double")
            / F.col(total_name).cast("double"),
            6,
        )

    sh_curve = _curve(
        spectrum,
        {
            "n_shingles": (F.col("n_sh"), "n_capped"),
            "inst_total": (F.col("d") * F.col("n_sh"), "inst_capped"),
        },
    )
    doc_curve = _curve(mind, {"n_docs": (F.col("n_docs"), "n_docs_blind")})
    # factor-table joins: 6 rows a side; denominators > 0 on every
    # emitted row (an empty spectrum crosses to zero rows, not to 0/0)
    return (
        sh_curve.join(doc_curve, "k")
        .select(
            F.col("k").cast("bigint").alias("dup_factor"),
            "n_shingles",
            "n_capped",
            _frac("n_capped", "n_shingles").alias("capped_frac"),
            "inst_total",
            "inst_capped",
            _frac("inst_capped", "inst_total").alias("inst_loss_frac"),
            "n_docs",
            "n_docs_blind",
            _frac("n_docs_blind", "n_docs").alias("docs_blind_frac"),
        )
    )


_XSRC_OFFSET = 700_000


@register(
    "dedup_cross_source",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {_XSRC_OFFSET}, text, 'mirror' FROM documents
  WHERE doc_id % 3 = 0
),
hashed AS (SELECT doc_id, source, sha256(text) AS text_sha FROM corpus)
SELECT text_sha,
       min(doc_id) AS keep_id,
       count(*) AS n_copies,
       count(DISTINCT source) AS n_sources
FROM hashed
GROUP BY text_sha
HAVING count(DISTINCT source) >= 2
""",
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-dup detection (train/eval leakage screen): hash
    groups spanning ≥2 distinct sources (fixture: every 3rd doc mirrored
    under a second source). Same uniform-digest shuffle as dedup_exact;
    the distinct-source count is over a tiny per-group set. At 100 TB this
    is the standard benchmark-contamination sweep over corpus snapshots."""
    d = Tables(spark, sf_dir).documents
    corpus = d.select("doc_id", "text", "source").unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + _XSRC_OFFSET).alias("doc_id"),
            "text",
            F.lit("mirror").alias("source"),
        )
    )
    return (
        corpus.select("doc_id", "source", F.sha2("text", 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_sources") >= 2)
    )


@register(
    "dedup_cluster_components",
    oracle="""
WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM documents),
cand AS (
  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 1, doc_id + 2 FROM documents WHERE doc_id % 5 = 0
),
dir AS (SELECT src, dst FROM cand
        WHERE src IN (SELECT node FROM nodes)
          AND dst IN (SELECT node FROM nodes)),
edges AS (SELECT src, dst FROM dir UNION SELECT dst, src FROM dir),
walk AS (
  SELECT node, node AS comp FROM nodes
  UNION
  SELECT e.dst AS node, w.comp FROM walk w JOIN edges e ON e.src = w.node
),
comps AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT node AS doc_id, component,
       count(*) OVER (PARTITION BY component) AS component_size
FROM comps
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a pair graph
    (every near-dup pipeline ends here — pair lists must become cluster ids
    before a keep-one policy can run). Deterministic edge fixture: chains
    d—(d+1)—(d+2) for d % 5 == 0, so components need MULTI-HOP propagation
    (d and d+2 share no edge).

    Iterative min-label propagation (the Pregel kernel): each round joins
    labels to edges and takes the min over (self, neighbors), materialized
    per round to cut lineage, until a fixpoint. Rounds = graph diameter —
    2 here; at 100 TB the same loop runs with the alternating large-star/
    small-star optimization and checkpointed iterations. The driver-side
    loop is bounded and each round is one shuffle — no per-row Python.

    DuckDB twin: WITH RECURSIVE reachability closure + min per node.
    """
    d = Tables(spark, sf_dir).documents.select("doc_id")
    nodes = d.select(F.col("doc_id").alias("node"))
    fives = d.filter(F.col("doc_id") % 5 == 0)
    cand = fives.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    ).unionByName(
        fives.select(
            (F.col("doc_id") + 1).alias("src"), (F.col("doc_id") + 2).alias("dst")
        )
    )
    directed = cand.join(
        nodes.select(F.col("node").alias("src")), "src", "left_semi"
    ).join(nodes.select(F.col("node").alias("dst")), "dst", "left_semi")

    labels = connected_components(nodes, directed)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    return labels.join(F.broadcast(sizes), "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        "component_size",
    )


def connected_components(
    nodes: DataFrame, directed_edges: DataFrame, max_iters: int = 32
) -> DataFrame:
    """Reusable min-label-propagation kernel: (node) × (src, dst) →
    (node, comp) where comp is the smallest node id reachable in the
    undirected closure. Each round is one shuffle (edges ⋈ labels → min);
    exits at the fixpoint, whose round count is the graph diameter.
    ``max_iters`` is a runaway bound for adversarial inputs — a path graph
    of n nodes needs n-1 rounds, so callers with deep graphs must raise it
    (or switch to large-star/small-star, which converges in O(log n)
    rounds).

    Each round's labels are localCheckpoint'ed: an iterative DataFrame that
    references its previous state twice per round grows its logical plan
    EXPONENTIALLY (2^rounds nodes — measured as a Catalyst OOM near round
    29 on a 30-node path); checkpointing truncates the lineage so every
    round plans against a materialized leaf. On a cluster prefer
    ``checkpoint()`` to a reliable directory — localCheckpoint blocks die
    with their executor."""
    edges = directed_edges.select("src", "dst").unionByName(
        directed_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select("node", F.col("node").alias("comp")).localCheckpoint()
    for _ in range(max_iters):
        prop = edges.join(labels, F.col("src") == F.col("node")).select(
            F.col("dst").alias("node"), "comp"
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.select("node", F.col("comp").alias("old")), "node"
            )
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@register(
    "dedup_normalized_text",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- translate, not upper(): unicode case mapping is library-defined
  -- (Java's full mapping uppercases sharp-s to SS, utf8proc to capital
  -- sharp-s) so both the noising and the canonicalizer fold ASCII case
  -- ONLY; non-ASCII is stripped by the [^a-z0-9 ] class regardless
  SELECT doc_id + 10000000,
         translate(replace(text, ' ', '  '),
                   'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!'
  FROM documents WHERE doc_id % 4 = 0
),
norm AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(
              translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
              '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_digest
  FROM corpus
)
SELECT norm_digest, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
FROM norm
GROUP BY norm_digest
HAVING count(*) > 1
ORDER BY n_docs DESC, norm_digest
""",
)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup (the 'fuzzy-exact' stage between byte-exact
    and MinHash in every corpus pipeline): lowercase → strip non-
    alphanumerics → collapse whitespace → trim, then group by the md5 of
    the canonical form. The fixture unions in noised copies of every 4th
    doc (upper-case, doubled spaces, trailing punctuation) that byte-exact
    dedup would MISS — each must land in its original's group. Uniform
    digest keys shuffle evenly at any scale; the keeper is the minimum
    doc_id, deterministically."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    noised = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        # translate = portable ASCII-only case fold (see oracle comment)
        F.concat(
            F.translate(
                F.regexp_replace("text", " ", "  "), "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            ),
            F.lit(" !!"),
        ).alias("text"),
    )
    corpus = d.unionByName(noised)
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.col("text"), "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
                "[^a-z0-9 ]",
                "",
            ),
            " +",
            " ",
        )
    )
    return (
        corpus.select("doc_id", F.md5(canon).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_family_sizes",
    oracle=f"""
WITH {_EXACT_CORPUS_CTE},
families AS (
  SELECT md5(text) AS h, count(*) AS family_size FROM corpus GROUP BY md5(text)
)
SELECT family_size, count(*) AS n_families,
       CAST(sum(family_size) AS BIGINT) AS n_docs,
       CAST(sum(family_size - 1) AS BIGINT) AS n_removable
FROM families GROUP BY family_size
""",
)
def dedup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family accounting: the size distribution of exact-dup
    clusters and how many documents dedup would remove — the budgeting
    number a pipeline reports before actually dropping rows. Two chained
    partial-aggregable groupBys (hash → family size → distribution); the
    second input is one row per family."""
    from ai_dataingestion_spark.ai.dedup import _corpus_with_exact_dups

    corpus = _corpus_with_exact_dups(spark, sf_dir)
    families = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return families.groupBy("family_size").agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum("family_size").alias("n_docs"),
        F.sum(F.col("family_size") - 1).alias("n_removable"),
    )


@register(
    "dedup_affix_prefix",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         array_to_string(list_slice({tokens_sql()}, 1, 5), ' ')
           AS prefix,
         md5(text) AS full_hash
  FROM documents
)
SELECT prefix,
       count(*) AS n_docs,
       count(DISTINCT full_hash) AS n_distinct_bodies
FROM keyed
GROUP BY prefix HAVING count(*) > 1
""",
)
def dedup_affix_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix (affix) duplication: documents opening with the same
    5-token prefix — the template/boilerplate-header signal that exact
    dedup misses because the bodies differ. Groups shuffle on the short
    prefix key only; the distinct-body count rides the same shuffle."""
    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        "doc_id",
        F.array_join(F.slice(tokens(), 1, 5), " ").alias("prefix"),
        F.md5("text").alias("full_hash"),
    )
    return (
        keyed.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("full_hash").alias("n_distinct_bodies"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_edit_distance_blocked",
    oracle=f"""
WITH blocked AS (
  SELECT doc_id, text,
         n_chars // 32 AS len_bucket,
         array_to_string(list_slice({tokens_sql()}, 1, 5), ' ')
           AS prefix5
  FROM documents
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY len_bucket, prefix5) AS block_n
  FROM blocked
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         -- DP length cap (VERDICT-r9 item 6): when BOTH texts exceed
         -- 4,000 chars, compare their first 4,000 chars — identical
         -- contract on the Spark side
         CASE WHEN len(a.text) > 4000 AND len(b.text) > 4000
              THEN a.text[1:4000] ELSE a.text END AS ta,
         CASE WHEN len(a.text) > 4000 AND len(b.text) > 4000
              THEN b.text[1:4000] ELSE b.text END AS tb,
         len(a.text) AS la_full, len(b.text) AS lb_full
  FROM sized a JOIN sized b
    ON a.len_bucket = b.len_bucket AND a.prefix5 = b.prefix5
   AND a.doc_id < b.doc_id
  WHERE a.block_n <= 100
    -- ASCII operands only: edit distance is an ENCODING-UNIT metric and
    -- the engines count different units outside printable ASCII (bytes
    -- here, UTF-16 units there) — real pipelines transliterate before
    -- edit distance
    AND NOT regexp_matches(a.text, '[^ -~]')
    AND NOT regexp_matches(b.text, '[^ -~]')
),
scored AS (
  -- equality short-circuit BEFORE the DP: identical operands (the
  -- dominant candidate class once a corpus accumulates exact copies)
  -- cost a string compare, never O(n*m) cells
  SELECT doc_a, doc_b, la_full, lb_full,
         CASE WHEN ta = tb THEN 0 ELSE levenshtein(ta, tb) END AS edit_dist,
         greatest(len(ta), len(tb)) AS cap_len
  FROM cand
)
SELECT doc_a, doc_b, edit_dist
FROM scored
WHERE edit_dist <= 0.2 * cap_len
  -- full-length agreement guard (ADVICE r10 #2): the prefix cap makes the
  -- DP blind past 4,000 chars, so two book-length docs sharing a 4,000-char
  -- preamble scored 0 no matter how different their tails; edit distance
  -- over the FULL texts is >= their length delta, so requiring the delta
  -- within threshold of the FULL max length is a sound necessary condition
  -- the cap was discarding (implied by the main predicate for uncapped
  -- pairs, so it only bites the capped branch)
  AND abs(la_full - lb_full) <= 0.2 * greatest(la_full, lb_full)
""",
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded edit-distance near-dup pairs: candidates are generated by
    a (length-bucket, 5-token-prefix) equality block — two docs whose
    lengths differ by more than the bucket width or whose openings
    differ can't be small-edit variants — then verified with exact
    Levenshtein ≤ 20% of the longer text. Blocks over 100 docs are
    dropped (deterministic skew cap, mirrored in the oracle): quadratic
    work is bounded by 100² per block, never corpus². Complements
    dedup_ngram_jaccard (bag-of-shingles) with an ORDER-sensitive edit
    measure.

    DP cost contract (mirrored in the oracle): when
    BOTH operands exceed 4,000 chars the distance is computed over their
    first 4,000 chars (an O(cap²) bound — near-dup triage on book-length
    docs is a prefix decision, and the extremes tier's identical 100k-char
    docs cost ~1e10 DP cells per pair per engine without it), and
    byte-equal operands short-circuit to 0 before any DP on either engine
    (the oracle's CASE guards DuckDB, which has no equality fast path).
    The capped branch additionally requires full-length agreement —
    abs(len_a - len_b) <= 0.2 * max(len_a, len_b) on the FULL texts:
    a necessary condition of the uncapped metric (edit
    distance >= length delta) that the prefix cap was blind to, so two
    book-length docs sharing a 4,000-char preamble but wildly different
    tails no longer report edit_dist 0. Mirrored on both engines;
    implied-by-threshold (hence a no-op) for uncapped pairs."""
    t = Tables(spark, sf_dir)
    blocked = t.documents.select(
        "doc_id",
        "text",
        (F.col("n_chars") / F.lit(32)).cast("bigint").alias("len_bucket"),
        F.array_join(F.slice(tokens(), 1, 5), " ").alias("prefix5"),
    )
    sized = blocked.withColumn(
        "block_n", F.count(F.lit(1)).over(Window.partitionBy("len_bucket", "prefix5"))
    ).filter(F.col("block_n") <= 100)
    a = sized.alias("a")
    b = sized.alias("b")
    both_long = (F.length(F.col("a.text")) > 4000) & (
        F.length(F.col("b.text")) > 4000
    )
    ta = F.when(both_long, F.substring(F.col("a.text"), 1, 4000)).otherwise(
        F.col("a.text")
    )
    tb = F.when(both_long, F.substring(F.col("b.text"), 1, 4000)).otherwise(
        F.col("b.text")
    )
    cap_len = F.greatest(F.length(ta), F.length(tb))
    # Semantics-preserving cost cuts (mirrored contract): edit distance is
    # >= |len(a)-len(b)|, so pairs whose length delta already exceeds the
    # threshold drop BEFORE any O(n*m) work, and byte-equal pairs
    # short-circuit to 0. Measured: 101 s -> 17.5 s on the 10x sweep.
    len_delta = F.abs(F.length(ta) - F.length(tb))
    # full-length agreement guard: necessary condition of
    # the UNCAPPED metric on the full texts; only bites the capped branch
    la_full, lb_full = F.length(F.col("a.text")), F.length(F.col("b.text"))
    full_len_ok = F.abs(la_full - lb_full) <= 0.2 * F.greatest(la_full, lb_full)
    dist = F.when(ta == tb, F.lit(0)).otherwise(F.levenshtein(ta, tb))
    return (
        a.join(
            b,
            (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.prefix5") == F.col("b.prefix5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # ASCII operands only (oracle mirrors): engines count different
        # encoding units outside ASCII — bytes vs UTF-16 code units
        .filter(
            ~F.col("a.text").rlike("[^ -~]")
            & ~F.col("b.text").rlike("[^ -~]")
        )
        .filter(full_len_ok)
        .filter(len_delta <= 0.2 * cap_len)
        .filter(dist <= 0.2 * cap_len)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
    )


_RESUBMIT_OFFSET = 7_000_000


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH lake AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {_RESUBMIT_OFFSET}, text
  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 4 = 0
),
hashed AS (SELECT doc_id, md5(text) AS h FROM batch),
batch_deduped AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed)
  WHERE rn = 1
)
SELECT b.doc_id, b.h AS content_md5
FROM batch_deduped b
WHERE NOT EXISTS (SELECT 1 FROM lake l WHERE l.h = b.h)
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape where a new ingest batch
    is deduplicated against the already-accepted lake without
    re-deduplicating the lake itself: (1) dedup within the batch (keep
    the smallest id per digest), (2) anti-join the survivors against
    the lake's digest index. Resubmissions of lake content are injected
    (every 4th lake doc re-enters under a shifted id) and must all be
    rejected by stage 2. At 100 TB the lake side is exactly the digest
    column — 16 bytes/doc, the index a lakehouse keeps materialized —
    and both stages shuffle digests only; full text never moves."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    lake = d.filter(F.col("doc_id") % 3 != 0).select(
        F.md5("text").alias("h")
    )
    batch = d.filter(F.col("doc_id") % 3 == 0).unionByName(
        d.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 4 == 0))
        .select((F.col("doc_id") + _RESUBMIT_OFFSET).alias("doc_id"), "text")
    )
    hashed = batch.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    batch_deduped = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "h")
    )
    return batch_deduped.join(lake, "h", "left_anti").select(
        "doc_id", F.col("h").alias("content_md5")
    )


@register(
    "dedup_partition_invariance",
    oracle="""
WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
survivors AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed)
  WHERE rn = 1
)
SELECT count(*) AS n_survivors,
       CAST(sum(doc_id) AS BIGINT) AS survivor_id_sum,
       0 AS layouts_disagree
FROM survivors
""",
)
def dedup_partition_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout invariance proof for dedup: the SAME keep-min
    exact dedup is executed under two adversarial physical layouts —
    repartition(7, by text) and repartition(13, by doc_id) — and the
    emitted layouts_disagree is the size of the symmetric difference
    between their survivor sets, pinned to 0 by the oracle. This is
    the determinism contract that makes dedup results reproducible
    across cluster sizes, AQE decisions, and re-runs — asserted as a
    hash-checked output every round (the topk_per_group_strategies
    proof pattern applied to data layout)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")

    def survivors(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id")
        )

    s1 = survivors(d.repartition(7, "text"))
    s2 = survivors(d.repartition(13, "doc_id"))
    diff = (
        s1.exceptAll(s2)
        .unionAll(s2.exceptAll(s1))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    return (
        s1.agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").cast("bigint").alias("survivor_id_sum"),
        )
        .crossJoin(F.broadcast(diff))
        .select(
            "n_survivors",
            "survivor_id_sum",
            F.col("n_diff").cast("int").alias("layouts_disagree"),
        )
    )


@register(
    "dedup_representative_selection",
    oracle=f"""
WITH corpus AS (
  -- text IS NOT NULL on both sides: a doc with no text has no family
  -- key, and Spark's size(NULL) = -1 vs len(NULL) = NULL would rank
  -- NULL-family members differently
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  -- truncated inferior copies of every 4th doc under offset ids
  SELECT doc_id + 3000000,
         array_to_string(list_slice({tokens_sql()}, 1,
           greatest(len({tokens_sql()}) - 5, 1)), ' ')
  FROM documents WHERE doc_id % 4 = 0 AND text IS NOT NULL
),
keyed AS (
  -- family key: first 5 tokens (the prefix-template family rule)
  SELECT doc_id, text,
         md5(array_to_string(list_slice({tokens_sql()}, 1, 5), ' '))
           AS family,
         len({tokens_sql()}) AS n_tokens
  FROM corpus
),
ranked AS (
  SELECT doc_id, family, n_tokens,
         row_number() OVER (PARTITION BY family
                            ORDER BY n_tokens DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY family) AS family_size
  FROM keyed
)
SELECT doc_id AS representative_id, family,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(family_size AS BIGINT) AS family_size
FROM ranked
WHERE rn = 1 AND family_size >= 2
""",
)
def dedup_representative_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUALITY-AWARE canonical selection for dedup families: within each
    family (shared-5-token-prefix key — the template rule), keep the
    RICHEST copy (most tokens, id tiebreak) instead of the arbitrary
    smallest id that plain keep-min dedup retains — the policy layer
    that decides WHICH duplicate survives, which matters when copies
    are truncated or stripped versions of each other (injected here:
    every 4th doc re-enters minus its last 5 tokens and must LOSE to
    its fuller original). One family-partitioned window over
    (family-hash, token-count) — text leaves the scan only as its
    hash and length."""
    d = (
        Tables(spark, sf_dir)
        .documents.where(F.col("text").isNotNull())  # oracle mirrors
        .select("doc_id", "text")
    )
    toks = tokens()
    inferior = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1))), " "
        ).alias("text"),
    )
    corpus = d.unionByName(inferior)
    keyed = corpus.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(tokens(), 1, 5))).alias(
            "family"
        ),
        F.size(tokens()).alias("n_tokens"),
    )
    w = Window.partitionBy("family").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = keyed.select(
        "doc_id",
        "family",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("family")).alias(
            "family_size"
        ),
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("family_size") >= 2)
    ).select(
        F.col("doc_id").alias("representative_id"),
        "family",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("family_size").cast("bigint").alias("family_size"),
    )


# Expected chunk length = modulus tokens; 8 keeps chunks long enough to
# carry content but short enough that shared passages align (CDC's whole
# point: an insertion resynchronizes at the next content boundary, which
# fixed-width chunking never does).
_CDC_MOD = 8


@register(
    "dedup_cdc_chunking",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest({tokens_sql()}) AS w,
         generate_subscripts({tokens_sql()}, 1) AS pos
  FROM documents
),
marked AS (
  SELECT doc_id, source, w, pos,
         CASE WHEN lag(w) OVER dw IS NOT NULL
               AND {hash60_sql("lag(w) OVER dw || ' ' || w")} % {_CDC_MOD} = 0
              THEN 1 ELSE 0 END AS b
  FROM toks
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
chunked AS (
  SELECT doc_id, source, w, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS cid
  FROM marked
),
chunks AS (
  SELECT doc_id, source, cid,
         md5(string_agg(w, ' ' ORDER BY pos)) AS ch,
         count(*) AS n_toks
  FROM chunked GROUP BY 1, 2, 3
)
SELECT source,
       count(*) AS n_chunks,
       count(DISTINCT ch) AS n_distinct_chunks,
       round(1.0 - CAST(count(DISTINCT ch) AS DOUBLE) / count(*), 6)
         AS dup_chunk_ratio,
       round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6)
         AS avg_chunk_tokens
FROM chunks GROUP BY source
""",
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup profile per source: chunk
    boundaries fall where the rolling 2-token hash ≡ 0 (mod 8), so an
    insertion or deletion re-synchronizes at the next content boundary
    and shared passages still hash to identical chunks — the property
    fixed-width chunking lacks and the reason CDC underlies
    storage-level dedup (LBFS, Muthitacharoen 2001). Pipeline: one
    posexplode, boundary lag + chunk-id cumsum + the (doc, chunk)
    re-assembly all partitioned by doc_id (one corpus shuffle, the
    exchange reused across both windows and the groupBy), then a
    sources-sized distinct-count rollup. Chunk identity is md5 of the
    order-reassembled text; the boundary hash is the repo's portable
    md5-prefix bigint so both engines cut identically."""
    d = Tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(tokens()).alias("pos", "w"),
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    prev = toks.select(
        "doc_id", "source", "w", "pos", F.lag("w").over(dw).alias("pw")
    )
    marked = prev.select(
        "doc_id",
        "source",
        "w",
        "pos",
        F.when(
            F.col("pw").isNotNull()
            & (
                F.expr(hash60_expr("concat(pw, ' ', w)")) % _CDC_MOD == 0
            ),
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    chunked = marked.select(
        "doc_id",
        "source",
        "w",
        "pos",
        F.sum("b")
        .over(dw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cid"),
    )
    chunks = chunked.groupBy("doc_id", "source", "cid").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("ch"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("ch").alias("n_distinct_chunks"),
        F.round(
            1.0 - F.countDistinct("ch").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_chunk_ratio"),
        F.round(
            F.sum("n_toks").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chunk_tokens"),
    )
