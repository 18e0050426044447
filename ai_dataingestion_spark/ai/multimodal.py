"""Multimodal record operators (§2.K + BASELINE mandate): text ⋈ vector
joins, per-language centroids, and binary-payload plumbing for image/audio
columns.

The container has no image/audio codecs, so the decode step in the binary
featurizer is a clearly-marked deterministic stub — but the Spark-side
plumbing (binary column, typed metadata struct, Arrow-batched mapInPandas,
output schema) is real and tested, which is the part that matters for the
100 TB pipeline shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import dims, dims_sql, pround
from ai_dataingestion_spark.registry import Tables


@register(
    "multimodal_join",
    oracle=f"""
WITH joined AS (
  SELECT d.lang, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
exploded AS (
  SELECT lang, CAST(x AS DOUBLE) AS val, pos + 1 AS pos
  FROM (SELECT lang, {dims_sql()} FROM joined)
)
SELECT lang, CAST(pos AS BIGINT) AS pos,
       round(avg(val), 6) AS centroid_val,
       count(*) AS n_vecs
FROM exploded
GROUP BY lang, pos
""",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified multimodal record: documents ⋈ embeddings on doc_id = vec_id,
    then a per-language embedding centroid via posexplode + avg per
    dimension (1-based positions to mirror SQL subscripts)."""
    t = Tables(spark, sf_dir)
    joined = t.documents.join(
        t.embeddings, F.col("doc_id") == F.col("vec_id")
    ).select("lang", "embedding")
    exploded = joined.select("lang", dims()).select(
        "lang",
        (F.col("pos") + 1).cast("bigint").alias("pos"),
        F.col("x").cast("double").alias("val"),
    )
    return exploded.groupBy("lang", "pos").agg(
        F.round(F.avg("val"), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("head_hex", StringType()),
        StructField("payload_sha", StringType()),
    ]
)


def _decode_payload(payload: bytes) -> bytes:
    """STUB: real deployments decode image/audio bytes here (PIL/ffmpeg are
    not in this container). The deterministic fake returns the payload
    unchanged so downstream feature shapes are stable and testable."""
    return payload


def _featurize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched featurizer: one pandas frame per partition batch —
    the mapInPandas shape used for real decode/resize/frame-sample work."""
    import hashlib

    for pdf in batches:
        # na_action="ignore" propagates a NULL payload (missing media blob)
        # as NULL features — the oracle's strlen/sha256(NULL) semantics —
        # instead of crashing the worker; Int64 keeps the length nullable.
        decoded = pdf["payload"].map(_decode_payload, na_action="ignore")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["meta"].map(lambda m: m["mime"]),
                "n_bytes": decoded.map(len, na_action="ignore").astype("Int64"),
                "head_hex": decoded.map(
                    lambda b: b[:8].hex(), na_action="ignore"
                ),
                "payload_sha": decoded.map(
                    lambda b: hashlib.sha256(b).hexdigest(), na_action="ignore"
                ),
            }
        )


@register(
    "multimodal_binary_features",
    oracle="""
SELECT doc_id,
       'application/octet-stream'       AS mime,
       CAST(strlen(text) AS BIGINT)     AS n_bytes,
       -- hex-then-substring slices the first 8 BYTES of the payload like
       -- the engine's b[:8]; text[1:8]-then-encode would slice CHARACTERS
       -- and emit 9+ bytes when a multibyte char sits in the head (found
       -- by the combined nulls+unicode tier)
       substring(hex(encode(text)), 1, 16) AS head_hex_upper,
       sha256(text)                     AS payload_sha
FROM documents
""",
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-modality plumbing: synthesize an opaque binary payload column
    (UTF-8 text bytes stand in for image bytes) + typed metadata struct,
    then featurize through Arrow-batched mapInPandas. Decode is stubbed
    deterministically (docstring in _decode_payload), so the byte-level
    features are oracle-checkable against the text the payload came from."""
    d = Tables(spark, sf_dir).documents
    binary = d.select(
        "doc_id",
        F.encode("text", "UTF-8").cast(BinaryType()).alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("text").cast("bigint").alias("declared_size"),
        ).alias("meta"),
    )
    feats = binary.mapInPandas(_featurize_batches, _FEATURE_SCHEMA)
    # hex() is uppercase in DuckDB, lowercase in Python — normalize here.
    return feats.select(
        "doc_id",
        "mime",
        "n_bytes",
        F.upper("head_hex").alias("head_hex_upper"),
        "payload_sha",
    )


_RESIZE_CELLS = 16
_PAYLOAD_CAP = 4096

_POOL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("cell", LongType()),
        StructField("cell_n", LongType()),
        StructField("byte_sum", LongType()),
    ]
)


def _synthesize_payload_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Stage 1 — the deterministic FAKE DECODE (mandate: codecs aren't in
    this container): byte i of doc d is (d*31 + i) mod 256, standing in
    for decoded pixel intensities. Real deployments replace this body with
    PIL/ffmpeg decode of fetched object-store bytes; everything downstream
    (binary column, Arrow transfer, pooling) is the real pipeline."""
    import numpy as np

    for pdf in batches:
        payloads = [
            ((int(d) * 31 + np.arange(int(n), dtype=np.int64)) % 256)
            .astype(np.uint8)
            .tobytes()
            for d, n in zip(pdf["doc_id"], pdf["n"])
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


# Peak working set of the vectorized pool kernel is ~9x the payload bytes
# it processes at once (the b''.join copy + the int64 cumsum, 8 bytes per
# payload byte) — ADVICE-r16 #1: bound it per SLICE instead of per Arrow
# batch, so growing payloads or arrow.maxRecordsPerBatch can't turn the
# kernel into an executor-memory spike. 64 MiB of payload -> ~0.6 GB peak.
_POOL_SLICE_BYTES = 64 * 1024 * 1024


def _pool_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stage 2 — the resize kernel: average-pool the 1-D "pixel" buffer
    into _RESIZE_CELLS fixed cells (cell c covers bytes
    [c*n//16, (c+1)*n//16)). Emits exact integer (cell_n, byte_sum) so the
    result is bit-stable; consumers derive means as byte_sum/cell_n.

    Vectorized across the batch (optimization r16, guide §4.2 "do the
    heavy lifting in native code"): the first draft looped rows × cells in
    Python (~16 appends + a slice-sum per row); this version concatenates
    payloads and computes every cell boundary and every cell sum with a
    handful of numpy calls (cumsum + np.diff over flat boundary indices) —
    identical integer output, ~10 numpy ops per slice instead of
    ~17·rows Python ops. r17 (ADVICE-r16 #1): the concat+cumsum working
    set is ~9x payload bytes, so rows are processed in slices of at most
    _POOL_SLICE_BYTES payload (a single over-limit row is its own slice) —
    memory stays bounded no matter how large payloads or Arrow batches
    grow, and per-row outputs are unchanged (rows are independent).
    Empty input batches yield nothing (pinned by test: mapInPandas
    callers concatenate yielded frames, so absent is equivalent to
    empty)."""
    import numpy as np

    cells = _RESIZE_CELLS
    for pdf in batches:
        m = len(pdf)
        if not m:
            continue
        bufs = pdf["payload"].tolist()
        lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=m)
        doc_ids = pdf["doc_id"].to_numpy()
        lo = 0
        while lo < m:
            hi, sliced = lo + 1, int(lens[lo])
            while hi < m and sliced + lens[hi] <= _POOL_SLICE_BYTES:
                sliced += int(lens[hi])
                hi += 1
            s_lens = lens[lo:hi]
            flat = np.frombuffer(b"".join(bufs[lo:hi]), dtype=np.uint8)
            starts = np.concatenate(([0], np.cumsum(s_lens)[:-1]))
            # (rows, cells+1) exact integer bounds: cell c of row r covers
            # [c*n//cells, (c+1)*n//cells) within row r's buffer
            c = np.arange(cells + 1, dtype=np.int64)
            bounds = (s_lens[:, None] * c[None, :]) // cells
            absolute = bounds + starts[:, None]
            # prefix sums over the flat byte stream -> per-cell sums by diff
            csum = np.concatenate(([0], np.cumsum(flat, dtype=np.int64)))
            cell_sums = np.diff(csum[absolute], axis=1)
            cell_ns = np.diff(bounds, axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids[lo:hi], cells),
                    "cell": np.tile(np.arange(cells, dtype=np.int64), hi - lo),
                    "cell_n": cell_ns.ravel(),
                    "byte_sum": cell_sums.ravel(),
                }
            )
            lo = hi


@register(
    "multimodal_image_resize_pool",
    oracle="""
WITH d AS (
  SELECT doc_id, least(n_chars, 4096) AS n, doc_id * 31 AS k
  FROM documents),
b AS (
  SELECT doc_id, CAST(c AS BIGINT) AS cell,
         (c + 1) * n // 16 - c * n // 16 AS cell_n,
         k + (c + 1) * n // 16 AS xh,
         k + c * n // 16 AS xl
  FROM d CROSS JOIN range(16) t(c))
SELECT doc_id, cell, CAST(cell_n AS BIGINT) AS cell_n,
       CAST((xh // 256) * 32640 + (xh % 256) * ((xh % 256) - 1) // 2
            - ((xl // 256) * 32640 + (xl % 256) * ((xl % 256) - 1) // 2)
         AS BIGINT) AS byte_sum
FROM b
""",
)
def multimodal_image_resize_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize leg of the multimodal quartet (decode / feature-extract /
    RESIZE / frame-sample): a two-stage Arrow pipeline where stage 1 is
    the clearly-marked deterministic fake decode (byte i of doc d =
    (d*31+i) mod 256 — PIL/ffmpeg are not in this container) producing a
    REAL binary column, and stage 2 average-pools each payload into 16
    fixed cells via vectorized numpy over mapInPandas — the exact shape a
    thumbnailing pass has at 100 TB (payloads never leave executors; the
    shuffle-free plan is two chained ArrowEvalPython stages over the
    documents scan; output is 16 rows per doc regardless of payload
    size). Payload length is capped at 4096 bytes. Exactness: emitting
    integer (cell_n, byte_sum) instead of float means makes the result
    bit-stable, and because the fake-decode bytes are arithmetic, the
    ORACLE never touches bytes at all — cell sums have the closed form
    T(k+hi)-T(k+lo) with T(x) = (x div 256)*32640 + tri(x mod 256), so
    DuckDB verifies the full decode->pool pipeline end-to-end from
    integers alone."""
    d = Tables(spark, sf_dir).documents.select(
        "doc_id", F.least(F.col("n_chars"), F.lit(_PAYLOAD_CAP)).cast("long").alias("n")
    )
    with_payload = d.mapInPandas(
        _synthesize_payload_batches,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    return with_payload.mapInPandas(_pool_batches, _POOL_SCHEMA)


_FRAME_LEN = 64       # bytes per sampled frame
_FRAME_STRIDE = 256   # byte offset between samples
_N_FRAMES = 3


@register(
    "multimodal_frame_sample",
    oracle=f"""
SELECT d.doc_id, f.frame_idx,
       f.frame_idx * {_FRAME_STRIDE} AS frame_off,
       lower(substring(hex(encode(d.text)),
                       f.frame_idx * {_FRAME_STRIDE} * 2 + 1,
                       {_FRAME_LEN} * 2)) AS frame_hex
FROM documents d
CROSS JOIN (VALUES (0), (1), (2)) f(frame_idx)
WHERE octet_length(encode(d.text)) >= f.frame_idx * {_FRAME_STRIDE} + {_FRAME_LEN}
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque binary payload (the video-modality
    plumbing shape): every document's payload is sampled at fixed byte
    strides, emitting 0..3 fixed-length frames per row — a mapInPandas
    stage whose output cardinality differs from its input, exactly like a
    real frame extractor. Payload bytes stand in for codec frames (no
    codecs in this container — see _decode_payload in ai/multimodal.py);
    the byte plumbing, schema, and variable fan-out are real and
    oracle-checked against hex slices of the same bytes."""
    import pandas as pd

    from pyspark.sql.types import BinaryType

    d = Tables(spark, sf_dir).documents
    binary = d.select(
        "doc_id", F.encode("text", "UTF-8").cast(BinaryType()).alias("payload")
    )

    def sample(batches):
        for pdf in batches:
            out_id, out_idx, out_off, out_hex = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # no payload, no frames (oracle's
                    continue         # NULL octet_length never passes >=)
                buf = bytes(payload)
                for i in range(_N_FRAMES):
                    off = i * _FRAME_STRIDE
                    if len(buf) >= off + _FRAME_LEN:
                        out_id.append(doc_id)
                        out_idx.append(i)
                        out_off.append(off)
                        out_hex.append(buf[off : off + _FRAME_LEN].hex())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_off": pd.Series(out_off, dtype="int32"),
                    "frame_hex": pd.Series(out_hex, dtype="object"),
                }
            )

    return binary.mapInPandas(
        sample, "doc_id bigint, frame_idx int, frame_off int, frame_hex string"
    )


_PAYLOAD_PREFIX = 64
_REPLAY_OFFSET = 5_000_000


@register(
    "multimodal_payload_dedup",
    oracle=f"""
WITH assets AS (
  SELECT doc_id, substring(text, 1, {_PAYLOAD_PREFIX}) AS payload_str
  FROM documents
  UNION ALL
  SELECT doc_id + {_REPLAY_OFFSET}, substring(text, 1, {_PAYLOAD_PREFIX})
  FROM documents WHERE doc_id % 11 = 0
)
SELECT md5(payload_str) AS payload_md5,
       count(*) AS n_copies,
       min(doc_id) AS first_id,
       max(doc_id) AS last_id,
       CAST(octet_length(encode(payload_str)) AS BIGINT) AS payload_bytes
FROM assets
GROUP BY payload_str
HAVING count(*) >= 2
""",
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column — the asset-level
    twin of dedup_exact for image/audio blobs, where byte-identical
    payloads recur under different asset ids (re-uploads, replayed
    ingest batches). Payloads are the deterministic UTF-8 stub bytes
    (multimodal.py's documented codec posture); a replayed batch is
    injected (every 11th asset re-enters under a shifted id) so the
    detector provably catches it. Spark hashes the BINARY column
    directly — md5(bytes) ≡ DuckDB md5(varchar) on UTF-8 — and groups
    by the digest: payload bytes never shuffle, only 16-byte hashes
    do. The grouping key at scale is the digest of a multi-MB blob —
    the only workable equality key for binary assets."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    replays = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + _REPLAY_OFFSET).alias("doc_id"), "text"
    )
    assets = d.unionByName(replays).select(
        "doc_id",
        F.encode(F.substring("text", 1, _PAYLOAD_PREFIX), "UTF-8").alias(
            "payload"
        ),
    )
    return (
        assets.groupBy(F.md5("payload").alias("payload_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
            F.max(F.octet_length("payload")).cast("bigint").alias(
                "payload_bytes"
            ),
        )
        .filter(F.col("n_copies") >= 2)
    )


@register(
    "multimodal_coverage_audit",
    oracle="""
WITH avail AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0)
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM avail) AS n_vectors,
  (SELECT count(*) FROM documents d
   WHERE NOT EXISTS (SELECT 1 FROM avail a WHERE a.vec_id = d.doc_id))
    AS docs_missing_vector,
  (SELECT count(*) FROM avail a
   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = a.vec_id))
    AS dangling_vectors,
  floor((SELECT CAST(count(*) AS DOUBLE) FROM documents d
         WHERE EXISTS (SELECT 1 FROM avail a WHERE a.vec_id = d.doc_id))
        / (SELECT count(*) FROM documents) * 1000000 + 0.5) / 1000000
    AS coverage_ratio
""",
)
def multimodal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal referential coverage: how many documents lack an
    embedding, how many embeddings dangle without a document, and the
    coverage ratio — the audit run before any multimodal join is
    trusted (a silent inner join would just drop the uncovered rows).
    The corpus ships with PERFECT 1:1 coverage [measured], so gaps are
    injected (vectors with vec_id % 7 = 0 withheld — the simulated
    failed-embedding-job slice) to keep the audit non-degenerate. Two
    anti-join counts + one semi count over key-only projections."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id")
    avail = t.embeddings.filter(F.col("vec_id") % 7 != 0).select("vec_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_vec = avail.agg(F.count(F.lit(1)).alias("n_vectors"))
    missing = docs.join(
        avail, docs.doc_id == avail.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("docs_missing_vector"))
    dangling = avail.join(
        docs, docs.doc_id == avail.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("dangling_vectors"))
    covered = docs.join(
        avail, docs.doc_id == avail.vec_id, "left_semi"
    ).agg(F.count(F.lit(1)).cast("double").alias("n_cov"))
    return (
        n_docs.crossJoin(F.broadcast(n_vec))
        .crossJoin(F.broadcast(missing))
        .crossJoin(F.broadcast(dangling))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_docs",
            "n_vectors",
            "docs_missing_vector",
            "dangling_vectors",
            pround(F.col("n_cov") / F.col("n_docs")).alias(
                "coverage_ratio"
            ),
        )
    )
