"""Text-analysis operators for LLM training-data pipelines (§2.K + extras):
cleaning, tokenization, stopword removal, quality gates/scores, language
stats and ID, corpus statistics (divergence between sources, lexical
richness, collocations, Zipf slope, readability), lexical ranking (TF-IDF,
BM25), chunking, PII scrubbing, contamination and repetition screens, and
tokenizer diagnostics.

Domain invariants, on both engines:

- a document's tokens are ``text`` split on single spaces
  (``functions.portable.tokens`` / ``tokens_sql``, the only spelling of
  the rule): leading, trailing and doubled spaces give empty tokens, which
  are kept, and NULL text gives NULL tokens;
- per-source token counts come from one relation,
  ``source_token_counts`` / ``SOURCE_TOKEN_COUNTS_SQL``;
- text never crosses into Python: everything is built-in string/array
  expressions (JVM-side, inside codegen), which is what makes these
  viable over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.ai.dedup import (
    _DUCK_SHINGLE,
    _DUP_OFFSET,
    _EXACT_CORPUS_CTE,
    _shingles_sql,
)
from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    hash60_expr,
    hash60_sql,
    hash_bucket,
    hash_bucket_sql,
    percentile,
    percentile_sql,
    pround,
    stable_sum,
    stable_sum_sql,
    tokens,
    tokens_sql,
)
from ai_dataingestion_spark.lexicons import STOPWORDS
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables

_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_clean",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g')) AS clean_text
FROM documents
""",
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize docs: lowercase → strip non-alphanumerics → collapse
    whitespace → trim (C4-style normalization step)."""
    d = Tables(spark, sf_dir).documents
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return d.select("doc_id", cleaned.alias("clean_text"))


@register(
    "text_tokenize",
    oracle=f"""
SELECT token, count(*) AS freq
FROM (SELECT unnest({tokens_sql()}) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 20
""",
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: split → explode → count → top-20.
    At scale the explode is map-side and the aggregate is one shuffle of
    (token, partial-count) pairs — vocabulary-sized, not corpus-sized."""
    d = Tables(spark, sf_dir).documents
    return (
        d.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


@register(
    "text_stopwords",
    oracle=f"""
SELECT doc_id,
       len(list_filter({tokens_sql()},
           t -> NOT list_contains({_STOP_LIST_SQL}, t)))   AS n_kept,
       array_to_string(
         list_filter({tokens_sql()},
           t -> NOT list_contains({_STOP_LIST_SQL}, t)), ' ') AS kept_text
FROM documents
""",
)
def text_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal preserving duplicates/order (array filter against a
    literal lexicon — array_except would dedup, so filter is used)."""
    d = Tables(spark, sf_dir).documents
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    kept = F.filter(
        tokens(), lambda t: ~F.array_contains(stop, t)
    )
    return d.select(
        "doc_id",
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    )


@register(
    "text_quality_filter",
    oracle=f"""
SELECT doc_id, lang, n_chars,
       len({tokens_sql()}) AS n_tokens,
       CAST(n_chars - len({tokens_sql()}) + 1 AS DOUBLE)
         / len({tokens_sql()}) AS mean_tok_len
FROM documents
WHERE n_chars BETWEEN 100 AND 4000
  AND len({tokens_sql()}) BETWEEN 20 AND 800
  AND CAST(n_chars - len({tokens_sql()}) + 1 AS DOUBLE)
        / len({tokens_sql()}) BETWEEN 3.0 AND 12.0
  AND lang IN ('en', 'es', 'fr', 'de')
""",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality gates (Rae et al. 2021; Raffel et al. 2020):
    char-length bounds, token-count bounds, mean-word-length band, language
    whitelist. Mean word length uses the exact single-space identity
    (n_chars - n_tokens + 1) / n_tokens so both engines divide the same ints.
    """
    d = Tables(spark, sf_dir).documents
    n_tokens = F.size(tokens()).cast("bigint")
    mean_len = (F.col("n_chars") - n_tokens + 1).cast("double") / n_tokens
    return (
        d.withColumn("n_tokens", n_tokens)
        .withColumn("mean_tok_len", mean_len)
        .filter(
            F.col("n_chars").between(100, 4000)
            & F.col("n_tokens").between(20, 800)
            & F.col("mean_tok_len").between(3.0, 12.0)
            & F.col("lang").isin("en", "es", "fr", "de")
        )
        .select("doc_id", "lang", "n_chars", "n_tokens", "mean_tok_len")
    )


@register(
    "text_quality_score",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         len({tokens_sql()}) AS n_tokens,
         len(list_filter({tokens_sql()},
             t -> list_contains({_STOP_LIST_SQL}, t))) AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(n_stop AS DOUBLE) / n_tokens                       AS stopword_ratio,
       CASE WHEN n_tokens BETWEEN 50 AND 500 THEN 1.0 ELSE 0.0 END AS length_score,
       CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.5
            THEN 1.0 ELSE 0.0 END                              AS stopword_score
FROM scored
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality component scores (length band, stopword-ratio
    band) — the scoring counterpart of text_quality_filter, for pipelines
    that rank rather than drop."""
    d = Tables(spark, sf_dir).documents
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    toks = tokens()
    n_tokens = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("bigint")
    ratio = n_stop.cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        F.when(n_tokens.between(50, 500), 1.0).otherwise(0.0).alias("length_score"),
        F.when(ratio.between(0.01, 0.5), 1.0).otherwise(0.0).alias("stopword_score"),
    )


@register(
    "text_lang_stats",
    oracle=f"""
SELECT lang, source,
       count(*)                                   AS n_docs,
       CAST(sum(n_chars) AS BIGINT)               AS total_chars,
       round(avg(n_chars), 4)                     AS avg_chars,
       round({percentile_sql("n_chars", 0.5)}, 4) AS median_chars
FROM documents
GROUP BY lang, source
""",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus profile: doc counts, char totals, length
    median."""
    d = Tables(spark, sf_dir).documents
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(percentile("n_chars", 0.5), 4).alias("median_chars"),
    )


@register(
    "text_langid",
    oracle="""
SELECT doc_id, lang,
       CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]')      THEN 'zh'
            WHEN regexp_matches(text, '[àâçéèêëîïôùûüÿœ]')          THEN 'fr'
            WHEN regexp_matches(text, '[áéíóúñ¿¡]')                 THEN 'es'
            WHEN regexp_matches(text, '[äöüß]')                     THEN 'de'
            ELSE 'en' END AS lang_pred
FROM documents
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic character-class language ID (script/diacritic n-gram
    heuristic). The synthetic corpus is ASCII word salad, so everything
    predicts 'en' — the operator's value is the plumbing: the same CASE
    cascade over real multilingual text routes on the first matching script.
    """
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        "lang",
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(F.col("text").rlike("[àâçéèêëîïôùûüÿœ]"), "fr")
        .when(F.col("text").rlike("[áéíóúñ¿¡]"), "es")
        .when(F.col("text").rlike("[äöüß]"), "de")
        .otherwise("en")
        .alias("lang_pred"),
    )


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpe_ish,
       len({tokens_sql()})                            AS n_ws
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (word-runs or single non-space symbols) — the pretokenization used to
    estimate LLM token budgets."""
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_ish"),
        F.size(tokens()).cast("bigint").alias("n_ws"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       array_to_string(list_transform(
         list_slice(list_sort(list_transform(
           range(1, greatest(len(toks) - 2, 2)),
           i -> {hash60_sql("array_to_string(list_slice(toks, i, i + 3), ' ')")}
         )), 1, 4),
         h -> CAST(h AS VARCHAR)
       ), ',') AS fingerprint
FROM (SELECT doc_id, {tokens_sql()} AS toks FROM documents)
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: rolling 4-token window hashes, keep the 4
    smallest (winnowing-style selection, Schleimer et al. 2003). Two docs
    sharing fingerprint hashes are near-dup candidates. Pure expression work
    (sequence + transform + a portable md5-derived 60-bit hash —
    bit-identical in DuckDB, so the fingerprints are oracle-verified
    end-to-end), no Python. The sorted hash array is emitted comma-joined as
    a single string: arrays stay out of oracle-compared output schemas (the
    agg_collect rule, operators/aggregates.py) because the driver's pandas
    canonicalizer cannot hash ndarray cells."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", tokens())
    # NULL branch is load-bearing: size(NULL) is -1 and concat_ws(' ', NULL)
    # is '', so a NULL document would otherwise fingerprint as md5('') — a
    # shared fake identity for every null doc (the _SHINGLES_EXPR rule)
    window_hashes = F.expr(
        f"""
        CASE WHEN toks IS NULL THEN NULL
             ELSE transform(
               sequence(1, greatest(size(toks) - 3, 1)),
               i -> {hash60_expr("concat_ws(' ', slice(toks, i, 4))")}
             )
        END
        """
    )
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.slice(F.array_sort(window_hashes), 1, 4),
                lambda h: h.cast("string"),
            ),
            ",",
        ).alias("fingerprint"),
    )


@register(
    "text_tfidf",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql()}) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token,
       round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token): smoothed idf = ln((N+1)/(df+1)) + 1
    (scikit-learn's smoothing). The exploded token relation is aggregated
    ONCE to per-(doc, token) counts; document frequency is then a count over
    that tf relation (its rows ARE the distinct (doc, token) pairs), so the
    expensive explode + (doc_id, token) shuffle happens once and Catalyst
    reuses the exchange for both branches — no countDistinct expand over the
    raw token stream. df and n_docs are broadcast-sized (vocabulary-bound).
    Rounded to 6 dp (ln is libm-dependent)."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "text_ngrams",
    oracle=f"""
SELECT bigram, count(*) AS freq
FROM (
  -- split hoisted OUT of the lambda: inlined, DuckDB re-splits the text
  -- per bigram — O(tokens x chars), 49 s on 100k-char docs (round 10)
  SELECT unnest(list_transform(
    range(1, greatest(len(toks), 2)),
    i -> toks[i] || ' ' || toks[i + 1]
  )) AS bigram
  FROM (SELECT {tokens_sql()} AS toks FROM documents)
)
WHERE bigram IS NOT NULL
GROUP BY bigram
ORDER BY freq DESC, bigram ASC
LIMIT 20
""",
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams: windowed token pairs via a sequence transform
    (expression-only; at scale this is the n-gram language-model counting
    kernel — explode is map-side, the aggregate shuffles only (bigram,
    partial count) pairs)."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", tokens())
    # The >= 2 gate replaces the old greatest(size-1, 1) floor: a
    # single-token document (empty or whitespace-only text) would index
    # toks[1] out of bounds — an ANSI crash, where the oracle's
    # out-of-range list index is a NULL it then filters. NULL text: split
    # is NULL, the CASE is NULL, explode emits nothing — matching the
    # oracle's NULL-bigram filter.
    bigrams = F.expr(
        """
        CASE WHEN size(toks) >= 2
             THEN transform(sequence(1, size(toks) - 1),
                            i -> concat(toks[i - 1], ' ', toks[i]))
             ELSE array()
        END
        """
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_paragraph_dedup",
    oracle=f"""
WITH {_EXACT_CORPUS_CTE},
paras AS (
  SELECT doc_id, trim(p) AS para
  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS p FROM corpus)
  WHERE len(trim(p)) >= 20
),
freq AS (
  SELECT md5(para) AS para_md5, min(para) AS para_text,
         count(*) AS n_occurrences,
         count(DISTINCT doc_id) AS n_docs
  FROM paras GROUP BY md5(para)
)
SELECT para_md5, para_text, n_occurrences, n_docs
FROM freq WHERE n_docs >= 2
""",
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level duplicate detection (the C4/RefinedWeb pass that
    removes repeated paragraphs rather than whole documents): split on
    sentence-ish boundaries, hash each >=20-char paragraph, and report
    paragraphs occurring in >= 2 distinct documents with occurrence and
    document counts. The measured corpus has no cross-doc repeated
    paragraphs, so the query unions in exact copies of even-id docs (the
    dedup_exact fixture) to make the check non-trivial. One explode + one
    md5-keyed groupBy — uniform 128-bit keys, map-side combined, no skew;
    the repeated-paragraph relation is a tiny fraction of the corpus at
    any scale."""
    from ai_dataingestion_spark.ai.dedup import _corpus_with_exact_dups

    corpus = _corpus_with_exact_dups(spark, sf_dir)
    paras = (
        corpus.select("doc_id", F.explode(F.split("text", "\\. ")).alias("p"))
        .select("doc_id", F.trim("p").alias("para"))
        .filter(F.length("para") >= 20)
    )
    return (
        paras.groupBy(F.md5("para").alias("para_md5"))
        .agg(
            F.min("para").alias("para_text"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "text_boilerplate_lines",
    oracle="""
WITH augmented AS (
  SELECT source, text || '. all rights reserved contact ' || source AS text
  FROM documents
),
lines AS (
  SELECT source, trim(p) AS line
  FROM (SELECT source, unnest(string_split(text, '. ')) AS p FROM augmented)
  WHERE len(trim(p)) >= 10
),
per_source AS (
  SELECT source, md5(line) AS line_md5, min(line) AS line_text,
         count(*) AS n
  FROM lines GROUP BY source, md5(line)
)
SELECT source, line_md5, line_text, n
FROM per_source WHERE n >= 5
""",
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection (RefinedWeb-style): lines repeated
    >= 5 times WITHIN one source are navigation/footer boilerplate to
    strip, not content. The measured corpus has no repeated lines, so the
    query appends a per-source footer sentence to every document in-query
    (the fixture a crawler's site template produces naturally) and must
    isolate exactly those. Grouping key is (source, line-hash) — a hot
    source cannot concentrate a partition because the hash spreads it; the
    boilerplate relation is broadcast-sized for the downstream strip join."""
    d = Tables(spark, sf_dir).documents
    augmented = d.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(". all rights reserved contact "),
            F.col("source"),
        ).alias("text"),
    )
    lines = (
        augmented.select("source", F.explode(F.split("text", "\\. ")).alias("p"))
        .select("source", F.trim("p").alias("line"))
        .filter(F.length("line") >= 10)
    )
    return (
        lines.groupBy("source", F.md5("line").alias("line_md5"))
        .agg(F.min("line").alias("line_text"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "text_code_detect",
    oracle=f"""
SELECT doc_id,
       round(CAST(len(text) - len(replace(replace(replace(replace(text,
               '{{', ''), '}}', ''), ';', ''), '=', '')) AS DOUBLE)
             / len(text), 6) AS code_char_ratio,
       round(CAST(len(text) - len(replace(text, '(', '')) AS DOUBLE)
             / len({tokens_sql()}), 6) AS paren_per_token,
       CASE WHEN CAST(len(text) - len(replace(replace(replace(replace(text,
                   '{{', ''), '}}', ''), ';', ''), '=', '')) AS DOUBLE)
                 / len(text) > 0.01
              OR CAST(len(text) - len(replace(text, '(', '')) AS DOUBLE)
                 / len({tokens_sql()}) > 0.2
            THEN 'code' ELSE 'prose' END AS kind
FROM documents WHERE len(text) > 0
""",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic code-vs-prose classifier (the pretraining split that routes
    documents to code vs natural-language pipelines): density of code
    punctuation ({};=) per char and parens per token, thresholded. Counting
    is length-difference after char removal — identical integer arithmetic
    in both engines, no regex engine divergence. Pure expressions, one
    scan, no shuffle at all."""
    d = Tables(spark, sf_dir).documents.filter(F.length("text") > 0)
    stripped = F.col("text")
    for ch in ("{", "}", ";", "="):
        stripped = F.replace(stripped, F.lit(ch), F.lit(""))
    code_ratio = (
        (F.length("text") - F.length(stripped)).cast("double")
        / F.length("text")
    )
    paren_rate = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("("), F.lit("")))).cast("double")
        / F.size(tokens())
    )
    return d.select(
        "doc_id",
        F.round(code_ratio, 6).alias("code_char_ratio"),
        F.round(paren_rate, 6).alias("paren_per_token"),
        F.when((code_ratio > 0.01) | (paren_rate > 0.2), "code")
        .otherwise("prose")
        .alias("kind"),
    )


@register(
    "text_entropy_filter",
    oracle="""
WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
  FROM documents WHERE len(text) > 0
),
hist AS (
  SELECT doc_id, ch, count(*) AS n FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS total FROM hist GROUP BY doc_id)
SELECT h.doc_id,
       round(-sum((CAST(n AS DOUBLE) / total) * ln(CAST(n AS DOUBLE) / total))
             / ln(2), 6) AS char_entropy_bits,
       CASE WHEN -sum((CAST(n AS DOUBLE) / total) * ln(CAST(n AS DOUBLE) / total))
                 / ln(2) < 3.0 THEN 'low_entropy' ELSE 'ok' END AS gate
FROM hist h JOIN tot USING (doc_id)
GROUP BY h.doc_id, total
""",
)
def text_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy gate (Gopher-style repetitive-
    garbage screen: near-constant documents score < 3 bits and are
    flagged). explode-to-chars → (doc, char) histogram → one entropy
    aggregate per doc — both groupBys are map-side combinable and the
    histogram relation is bounded by |alphabet| per doc, so the shuffle
    carries ~70 rows per document regardless of document length. Entropy
    summed in a deterministic order via ordered aggregation inputs is NOT
    required: both engines sum the same ~70 doubles and the result is
    rounded to 6 dp."""
    d = Tables(spark, sf_dir).documents.filter(F.length("text") > 0)
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = hist.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    ent = -F.sum(p * F.log(p)) / F.log(F.lit(2.0))
    return (
        hist.join(tot, "doc_id")
        .groupBy("doc_id", "total")
        .agg(
            F.round(ent, 6).alias("char_entropy_bits"),
            F.when(ent < 3.0, "low_entropy").otherwise("ok").alias("gate"),
        )
        .select("doc_id", "char_entropy_bits", "gate")
    )


_CMS_D = 4          # sketch depth (independent hash rows)
_CMS_W = 256        # sketch width (buckets per row)
_CMS_P = (1 << 31) - 1


def _cms_row_duck(r: int) -> str:
    """DuckDB bucket index for sketch row r over column `token`."""
    return (
        f"((({2 * r + 3} * ({hash60_sql('token')}"
        f" % {_CMS_P}) + {1000003 * r + 12345}) % {_CMS_P}) % {_CMS_W})"
    )


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest({tokens_sql()}) AS token FROM documents
),
assigned AS (
  SELECT token,
         {", ".join("%s AS b%d" % (_cms_row_duck(r), r) for r in range(_CMS_D))}
  FROM toks
),
sketch AS (
  {" UNION ALL ".join("SELECT %d AS row_idx, b%d AS bucket, count(*) AS c FROM assigned GROUP BY b%d" % (r, r, r) for r in range(_CMS_D))}
),
exact AS (
  SELECT token, count(*) AS exact_count,
         {", ".join("min(b%d) AS b%d" % (r, r) for r in range(_CMS_D))}
  FROM assigned GROUP BY token
  ORDER BY exact_count DESC, token ASC LIMIT 20
)
SELECT e.token, e.exact_count,
       least({", ".join("s%d.c" % r for r in range(_CMS_D))}) AS cms_estimate,
       least({", ".join("s%d.c" % r for r in range(_CMS_D))}) >= e.exact_count
         AS cms_admissible
FROM exact e
{" ".join("JOIN sketch s%d ON s%d.row_idx = %d AND s%d.bucket = e.b%d" % (r, r, r, r, r) for r in range(_CMS_D))}
"""


@register("agg_count_min_topk", oracle=_CMS_ORACLE)
def agg_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): a
    4×256 CMS over the corpus token stream, then the true top-20 tokens
    with exact count, CMS estimate (min over the 4 bucket counts), and the
    admissibility invariant estimate >= exact. The sketch hashes are
    portable (md5 base + affine rows mod 2³¹−1), so BOTH engines build the
    bit-identical sketch and the driver hash-compares the whole thing —
    a sketch operator with an exact oracle, like agg_approx_distinct.

    Scale shape: the sketch build is ONE map-side-combinable groupBy over
    a posexploded (row_idx, bucket) pair stream — d×w ≤ 1024 groups of
    constant-size state per executor, the canonical streaming-sketch
    plan; the exact top-20 exists only to verify. The single posexplode
    pass and the dimension-bounded op_cache'd sketch relation keep the
    op at exactly 2 corpus passes (sketch, exact top-20) at any scale;
    d SEPARATE groupBys over the token relation, re-derived inside each
    of the d verification joins, would make 5 (explode + md5 per token,
    each time)."""
    d = Tables(spark, sf_dir).documents
    toks = d.select(F.explode(tokens()).alias("token"))
    base = F.expr(f"{hash60_expr('token')} % {_CMS_P}")
    assigned = toks.select(
        "token",
        *[
            (((F.lit(2 * r + 3) * base + F.lit(1000003 * r + 12345)) % _CMS_P)
             % _CMS_W).alias(f"b{r}")
            for r in range(_CMS_D)
        ],
    )
    # one corpus pass: every token emits its d (row_idx, bucket) pairs and
    # the partial aggregation collapses them map-side to ≤ d×w rows per
    # task; the ≤1024-row result is op_cache'd so the 4 verification joins
    # below read a dimension-bounded in-memory relation instead of each
    # re-running the corpus explode (measured: 5 corpus passes → 2)
    sketch = (
        assigned.select(
            F.posexplode(
                F.array(*[F.col(f"b{r}") for r in range(_CMS_D)])
            ).alias("row_idx", "bucket")
        )
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(op_cache)
    )
    exact = (
        assigned.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("exact_count"),
            *[F.min(f"b{r}").alias(f"b{r}") for r in range(_CMS_D)],
        )
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(20)
    )
    joined = exact
    for r in range(_CMS_D):
        s = sketch.filter(F.col("row_idx") == r).select(
            F.col("bucket").alias(f"bk{r}"), F.col("c").alias(f"c{r}")
        )
        joined = joined.join(
            F.broadcast(s), F.col(f"b{r}") == F.col(f"bk{r}")
        )
    est = F.least(*[F.col(f"c{r}") for r in range(_CMS_D)])
    return joined.select(
        "token",
        "exact_count",
        est.alias("cms_estimate"),
        (est >= F.col("exact_count")).alias("cms_admissible"),
    )


def source_token_counts(documents: DataFrame) -> DataFrame:
    """(source, token, c): how often each token occurs in each source's
    documents. One explode and one (source, token) aggregate; the result
    is vocabulary-times-sources sized. Oracle twin:
    ``SOURCE_TOKEN_COUNTS_SQL``."""
    return (
        documents.select("source", F.explode(tokens()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )


SOURCE_TOKEN_COUNTS_SQL = f"""
  SELECT source, token, count(*) AS c
  FROM (SELECT source, unnest({tokens_sql()}) AS token
        FROM documents)
  GROUP BY source, token
"""


@register(
    "text_kl_divergence_sources",
    oracle=f"""
WITH src AS ({SOURCE_TOKEN_COUNTS_SQL}),
marged AS (
  SELECT source, c,
         sum(c) OVER (PARTITION BY token) AS cc
  FROM src
),
per_source AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS vocab,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / cc)) AS sum_term
  FROM marged GROUP BY source
)
SELECT source, n_tokens, vocab,
       round(sum_term / n_tokens
             + ln(CAST(sum(n_tokens) OVER () AS DOUBLE) / n_tokens), 6)
         AS kl_vs_corpus
FROM per_source
""",
)
def text_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(P_source ‖ P_corpus) over token
    unigram distributions — the mixture-drift detector that tells you
    which source's language least resembles the blend it feeds. Every
    source token also appears in the corpus distribution, so the log
    ratio is always finite.

    Single-scan shape: the raw corpus is exploded and aggregated ONCE to
    the (source, token) relation; the ONLY window is the corpus marginal
    sum over (token) — rows per token partition are bounded by |sources|,
    so no hot-token skew — because both normalizers factor out of the
    sum: KL = (1/n)·Σ c·ln(c/cc) + ln(nn/n), with n available from the
    final per-source groupBy itself and nn from a window over the
    sources-sized tail. (Spark recomputes branching subplans, so the
    naive aggregate-and-rejoin formulation scans the corpus 4x —
    measured 7.2 s vs 2.0 s at sf0.1.) Oracle computes the IDENTICAL
    decomposition."""
    t = Tables(spark, sf_dir)
    src = source_token_counts(t.documents)
    marged = src.select(
        "source",
        "c",
        F.sum("c").over(Window.partitionBy("token")).alias("cc"),
    )
    c_d = F.col("c").cast("double")
    per_source = marged.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(c_d * F.log(c_d / F.col("cc"))).alias("sum_term"),
    )
    nn = F.sum("n_tokens").over(Window.partitionBy())
    return per_source.select(
        "source",
        "n_tokens",
        "vocab",
        F.round(
            F.col("sum_term") / F.col("n_tokens")
            + F.log(nn.cast("double") / F.col("n_tokens")),
            6,
        ).alias("kl_vs_corpus"),
    )


@register(
    "text_hapax_ratio",
    oracle=f"""
WITH freq AS ({SOURCE_TOKEN_COUNTS_SQL})
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       count(CASE WHEN c = 1 THEN 1 END) AS n_hapax,
       round(CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio
FROM freq GROUP BY source
""",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: hapax legomena (tokens seen
    exactly once in the source) and type/token ratio — low richness
    flags templated or machine-generated feeds. Same (source, token)
    aggregation backbone as the KL query; output is sources-sized."""
    t = Tables(spark, sf_dir)
    freq = source_token_counts(t.documents)
    hapax = F.count(F.when(F.col("c") == 1, 1))
    return freq.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        F.round(hapax.cast("double") / F.count(F.lit(1)), 6).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "text_bigram_cond_entropy",
    oracle=f"""
WITH big AS (
  SELECT source, t[i] AS prev, t[i + 1] AS nxt, count(*) AS c
  FROM (SELECT source, {tokens_sql()} AS t FROM documents),
       unnest(generate_series(1, len(t) - 1)) g(i)
  GROUP BY source, t[i], t[i + 1]
),
marged AS (
  SELECT source, c, sum(c) OVER (PARTITION BY source, prev) AS cu
  FROM big
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       count(*) AS vocab_bigrams,
       round(-{stable_sum_sql(
           "CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / cu)")}
             / sum(c), 6) AS cond_entropy
FROM marged GROUP BY source
""",
)
def text_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy H(next|prev) per source — near-zero
    means deterministic continuations (templated/boilerplate text), high
    means diverse language; the sequence-aware sibling of
    corpus_source_entropy. Bigrams come from zip_with over the token
    array (map-side, no shuffle before aggregation); the only window is
    the (source, prev) marginal — partition sizes bounded by the
    per-prefix continuation vocabulary — because the normalizer N
    factors out: H = -(1/N)·Σ c·ln(c/cu), with N from the final groupBy
    itself (the text_kl_divergence_sources trick). Oracle computes the
    IDENTICAL decomposition; the Σ c·ln(c/cu) numerator accumulates in
    DECIMAL(38,6) (portable.py:stable_sum — each term is an identical
    double on both engines; the 1e-6 per-term quantization lands ~8
    orders below the 6dp entropy boundary after /N)."""
    t = Tables(spark, sf_dir)
    toks = tokens()
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("prev"), y.alias("nxt")),
    )
    big = (
        t.documents.select("source", F.explode(pair).alias("p"))
        .select("source", F.col("p.prev").alias("prev"), F.col("p.nxt").alias("nxt"))
        .groupBy("source", "prev", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    marged = big.select(
        "source",
        "c",
        F.sum("c").over(Window.partitionBy("source", "prev")).alias("cu"),
    )
    c_d = F.col("c").cast("double")
    return marged.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).alias("vocab_bigrams"),
        F.round(
            -stable_sum(c_d * F.log(c_d / F.col("cu"))) / F.sum("c"), 6
        ).alias("cond_entropy"),
    )


@register(
    "text_collocation_pmi",
    oracle=f"""
WITH toks AS (
  SELECT t[i] AS w FROM
    (SELECT {tokens_sql()} AS t FROM documents),
    unnest(generate_series(1, len(t))) g(i)
),
uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
n_uni AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uni),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c
  FROM (SELECT {tokens_sql()} AS t FROM documents),
       unnest(generate_series(1, len(t) - 1)) g(i)
  GROUP BY t[i], t[i + 1]
),
n_big AS (SELECT CAST(sum(c) AS DOUBLE) AS nb FROM big),
scored AS (
  SELECT w1, w2, b.c AS n_pair,
         floor(ln((CAST(b.c AS DOUBLE) / nb)
                  / ((CAST(u1.c AS DOUBLE) / nu)
                     * (CAST(u2.c AS DOUBLE) / nu)))
               * 1000000 + 0.5) / 1000000 AS pmi
  FROM big b
  JOIN uni u1 ON b.w1 = u1.w
  JOIN uni u2 ON b.w2 = u2.w
  CROSS JOIN n_uni CROSS JOIN n_big
  WHERE b.c >= 5
)
SELECT w1, w2, n_pair, pmi
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rn
      FROM scored)
WHERE rn <= 50
""",
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-50 adjacent-token pairs by pointwise
    mutual information ln(p(ab)/(p(a)p(b))) with a ≥5 occurrence floor —
    the classic multiword-expression detector (Church & Hanks 1990) that
    feeds tokenizer-vocabulary and stop-phrase decisions. Bigrams come
    from zip_with (map-side); unigram marginals join on token (vocab-
    sized, partial-aggregated before the shuffle); the two corpus
    totals are single-row broadcasts. PMI is portable-6dp-rounded
    BEFORE ranking with a (w1, w2) tiebreak, so the top-50 cut is
    deterministic cross-engine (the Q2 argmin-stability rule)."""
    d = Tables(spark, sf_dir).documents
    toks = tokens()
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    big = (
        d.select(F.explode(pair).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("nu"))
    n_big_all = (
        d.select(F.explode(pair).alias("p"))
        .agg(F.count(F.lit(1)).cast("double").alias("nb"))
    )
    pmi = F.log(
        (F.col("c").cast("double") / F.col("nb"))
        / (
            (F.col("u1c").cast("double") / F.col("nu"))
            * (F.col("u2c").cast("double") / F.col("nu"))
        )
    )
    scored = (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("u1c")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("u2c")), "w2"
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big_all))
        .select("w1", "w2", F.col("c").alias("n_pair"), pround(pmi).alias("pmi"))
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("w1", "w2", "n_pair", "pmi")
    )


_CHUNK_W = 20


@register(
    "text_chunk_dup_ratio",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, {tokens_sql()} AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, {tokens_sql()}
  FROM documents WHERE doc_id % 2 = 0
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(toks, (i - 1) * {_CHUNK_W} + 1, i * {_CHUNK_W}), ' '
         )) AS chash
  FROM corpus,
       unnest(generate_series(
         1, CAST(ceil(len(toks) / {_CHUNK_W}.0) AS BIGINT))) g(i)
),
freq AS (
  SELECT chash, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY chash
),
per_doc AS (
  SELECT c.doc_id,
         count(*) AS n_chunks,
         CAST(sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_chunks
  FROM chunks c JOIN freq f ON c.chash = f.chash
  GROUP BY c.doc_id
)
SELECT doc_id, n_chunks, dup_chunks,
       floor(CAST(dup_chunks AS DOUBLE) / n_chunks * 1000000 + 0.5)
         / 1000000 AS dup_ratio,
       CAST(CASE WHEN CAST(dup_chunks AS DOUBLE) / n_chunks >= 0.5
                 THEN 1 ELSE 0 END AS INT) AS is_mostly_duplicate
FROM per_doc
""",
)
def text_chunk_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity inter-document duplication (the MassiveText /
    Gopher "duplicate content fraction" filter, Rae 2021 §A1.2): split
    each doc into non-overlapping {W}-token chunks, hash each chunk, and
    score every doc by the fraction of its chunks that also appear in
    ANOTHER doc — catching partial-copy docs that document-level exact
    dedup misses and near-dup shingling prices quadratically. Exact
    copies of even-id docs are injected (the _corpus_with_exact_dups
    idiom) so recall is verifiable: injected copies score 1.0. Chunks
    shuffle as md5 hashes (never text); the chunk-frequency relation is
    hash-keyed and partial-aggregable — two shuffles total at any
    corpus size.""".replace("{W}", str(_CHUNK_W))
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dups).withColumn("toks", tokens())
    chunk_arr = F.expr(
        f"""transform(
              sequence(1, cast(ceil(size(toks) / {_CHUNK_W}.0) as bigint)),
              i -> md5(concat_ws(' ',
                     slice(toks, (i - 1) * {_CHUNK_W} + 1, {_CHUNK_W})))
            )"""
    )
    # chunks feeds both the frequency aggregate and the per-doc join.
    # Deliberately NOT cached: the relation is corpus-linear, and the 10x
    # sweep measured caching SLOWER (2.5 s vs 1.8 s) — materialization
    # costs more than re-running the cheap columnar scan+hash, and pinning
    # a corpus-sized relation is the wrong memory posture at lake scale.
    chunks = corpus.select(
        "doc_id", F.explode(chunk_arr).alias("chash")
    )
    freq = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    per_doc = (
        chunks.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_chunks"),
        )
    )
    ratio = F.col("dup_chunks").cast("double") / F.col("n_chunks")
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "dup_chunks",
        pround(ratio).alias("dup_ratio"),
        F.when(ratio >= 0.5, 1).otherwise(0).cast("int").alias(
            "is_mostly_duplicate"
        ),
    )


@register(
    "text_js_divergence_pairwise",
    oracle=f"""
WITH src AS ({SOURCE_TOKEN_COUNTS_SQL}),
tot AS (SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM src GROUP BY source),
p AS (
  SELECT s.source, s.token, CAST(s.c AS DOUBLE) / t.n AS p
  FROM src s JOIN tot t ON s.source = t.source
),
pairs AS (
  SELECT a.source AS src1, b.source AS src2, a.token,
         a.p AS pa, b.p AS pb, (a.p + b.p) / 2 AS m
  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source
)
SELECT src1, src2,
       count(*) AS n_shared_tokens,
       floor((0.5 * sum(pa * ln(pa / m)) + 0.5 * sum(pb * ln(pb / m)))
             * 1000000 + 0.5) / 1000000 AS js_divergence
FROM pairs GROUP BY src1, src2
""",
)
def text_js_divergence_pairwise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between sources' token
    unigram distributions — the SYMMETRIC, bounded drift metric
    (0..ln 2) corpus monitoring actually dashboards, complementing the
    asymmetric text_kl_divergence_sources. Token probabilities come
    from exact integer counts with one double division each; the
    token-keyed self-join is bounded by |sources| per token partition
    (the KL op's no-hot-token argument), and each pair's sum spans the
    shared vocabulary, 6dp-rounded per the float-aggregate rule.
    Tokens absent from one source contribute their finite half-terms
    only when shared — absent-token mass needs smoothing, documented
    as out of scope (this corpus shares its full vocabulary)."""
    t = Tables(spark, sf_dir)
    src = source_token_counts(t.documents)
    tot = src.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    p = src.join(F.broadcast(tot), "source").select(
        "source", "token", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    a = p.select(
        F.col("source").alias("src1"),
        "token",
        F.col("p").alias("pa"),
    )
    b = p.select(
        F.col("source").alias("src2"),
        "token",
        F.col("p").alias("pb"),
    )
    pairs = (
        a.join(b, "token")
        .filter(F.col("src1") < F.col("src2"))
        .withColumn("m", (F.col("pa") + F.col("pb")) / 2)
    )
    js = 0.5 * F.sum(
        F.col("pa") * F.log(F.col("pa") / F.col("m"))
    ) + 0.5 * F.sum(F.col("pb") * F.log(F.col("pb") / F.col("m")))
    return pairs.groupBy("src1", "src2").agg(
        F.count(F.lit(1)).alias("n_shared_tokens"),
        pround(js).alias("js_divergence"),
    )


_BM25_TERMS = ["hash", "join", "filter"]
_K1, _B = 1.2, 0.75


def _bm25_term_sql(term: str) -> str:
    """One term's BM25 contribution (DuckDB dialect), 0 when absent."""
    return f"""
coalesce(max(CASE WHEN term = '{term}' THEN
  ln((nd - df + 0.5) / (df + 0.5) + 1)
  * (tf * ({_K1} + 1))
  / (tf + {_K1} * (1 - {_B} + {_B} * dl / avgdl))
END), 0.0)"""


@register(
    "text_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql()}) AS term FROM documents
),
dl_rel AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl_rel
),
tf_rel AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, term
),
df_rel AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf_rel GROUP BY term
),
scored AS (
  SELECT t.doc_id,
         {" + ".join("(" + _bm25_term_sql(t) + ")" for t in _BM25_TERMS)}
           AS score
  FROM tf_rel t
  JOIN df_rel USING (term)
  JOIN dl_rel USING (doc_id)
  CROSS JOIN stats
  GROUP BY t.doc_id
)
SELECT doc_id, score FROM (
  SELECT doc_id,
         floor(score * 1000000 + 0.5) / 1000000 AS score,
         row_number() OVER (
           ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC, doc_id
         ) AS rn
  FROM scored)
WHERE rn <= 20
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking (Robertson-Walker, k1=1.2 b=0.75) for the
    fixed query {{hash, join, filter}}: THE retrieval scorer behind
    every keyword-search and hybrid-RAG pipeline, built relationally —
    tf/df/doclen from exact integer counts, idf the +1-smoothed form,
    per-term contributions assembled via conditional aggregation so the
    three-term sum has a FIXED evaluation order (a GROUP BY over terms
    would sum in nondeterministic order), then 6dp-rounded BEFORE the
    deterministic top-20 cut. Scale shape: one token explode, (doc,
    term) and (term) aggregates, df/stats broadcast — the inverted-
    index build cost, paid once."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens()).alias("term"))
    dl_rel = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    stats = dl_rel.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf_rel = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_rel = tf_rel.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    joined = (
        tf_rel.join(F.broadcast(df_rel), "term")
        .join(dl_rel, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    contrib = (
        F.log(
            (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        * (F.col("tf") * (_K1 + 1))
        / (
            F.col("tf")
            + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    )
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("term") == t, contrib)), F.lit(0.0)
        )
        for t in _BM25_TERMS
    ]
    score = per_term[0] + per_term[1] + per_term[2]
    scored = joined.groupBy("doc_id").agg(pround(score).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "score")
    )


@register(
    "text_readability_score",
    oracle=f"""
WITH scored AS (
  SELECT source,
         len({tokens_sql()}) AS n_words,
         greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
           AS n_sentences,
         len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables
  FROM documents
),
fk AS (
  SELECT source,
         floor((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59)
               * 1000000 + 0.5) / 1000000 AS grade
  FROM scored
)
SELECT source,
       count(*) AS n_docs,
       {percentile_sql("grade", 0.5)} AS p50_grade,
       floor(CAST(sum(CAST(grade AS DECIMAL(38, 6))) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS mean_grade
FROM fk GROUP BY source
""",
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability per source, with the
    standard syllable proxy (vowel-run count — the deterministic
    heuristic used when no pronunciation dictionary ships): grade =
    0.39·(words/sentences) + 11.8·(syllables/words) − 15.59. The
    text-difficulty signal that routes corpora toward child-safe,
    simplified, or technical training mixes. Per-doc grades are
    portable-rounded once, then the per-source mean accumulates the
    ROUNDED values in DECIMAL (order-independent) and the median
    interpolates on them. Expression-only until the sources-sized
    rollup."""
    d = Tables(spark, sf_dir).documents
    n_words = F.size(tokens())
    n_sentences = F.greatest(
        F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1)
    )
    n_syll = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    grade = pround(
        0.39 * (n_words.cast("double") / n_sentences)
        + 11.8 * (n_syll.cast("double") / n_words)
        - 15.59
    )
    fk = d.select("source", grade.alias("grade"))
    n = F.count(F.lit(1))
    return fk.groupBy("source").agg(
        n.alias("n_docs"),
        percentile("grade", 0.5).alias("p50_grade"),
        pround(
            F.sum(F.col("grade").cast("decimal(38,6)")).cast("double") / n
        ).alias("mean_grade"),
    )


_VOCAB = [
    "join", "hash", "row", "batch", "scan", "filter", "merge", "order",
    "column", "index", "sort", "cache", "spill", "page", "key", "block",
]


@register(
    "text_vocab_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({tokens_sql()}) AS w FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN w IN ({", ".join(f"'{w}'" for w in _VOCAB)})
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       floor(CAST(sum(CASE WHEN w IN ({", ".join(f"'{w}'" for w in _VOCAB)})
                           THEN 0 ELSE 1 END) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS oov_rate
FROM toks GROUP BY source
""",
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per source, the share of corpus
    tokens OUTSIDE a fixed 16-entry vocabulary — the out-of-vocabulary
    rate that decides whether a tokenizer (or its replacement) fits a
    data source before a single training step is paid. The vocab is a
    literal shared verbatim with the oracle (the sentiment-lexicon
    fixture idiom); one token explode + conditional counts,
    partial-aggregable, sources-sized output."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("source", F.explode(tokens()).alias("w"))
    oov = F.sum(F.when(F.col("w").isin(_VOCAB), 0).otherwise(1))
    n = F.count(F.lit(1))
    return toks.groupBy("source").agg(
        n.cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        pround(oov.cast("double") / n).alias("oov_rate"),
    )


@register(
    "text_batch_novelty_rate",
    oracle=f"""
WITH tokenized AS MATERIALIZED (
  -- split hoisted OUT of the lateral: inlined, DuckDB re-splits the text
  -- per (row, i) — O(tokens x chars) on 100k-char docs (round 10)
  SELECT doc_id, {tokens_sql()} AS toks
  FROM documents
  -- text IS NOT NULL: a NULL doc yields no shingles (it would otherwise
  -- contribute a DISTINCT NULL digest on this side only)
  WHERE text IS NOT NULL
),
lake_grams AS (
  SELECT DISTINCT md5({_DUCK_SHINGLE}) AS g
  FROM tokenized,
       unnest(generate_series(1, greatest(len(toks) - 2, 1))) s(i)
  WHERE doc_id % 3 <> 0
),
batch_grams AS (
  SELECT DISTINCT md5({_DUCK_SHINGLE}) AS g
  FROM tokenized,
       unnest(generate_series(1, greatest(len(toks) - 2, 1))) s(i)
  WHERE doc_id % 3 = 0
)
SELECT (SELECT count(*) FROM batch_grams) AS batch_distinct_grams,
       (SELECT count(*) FROM batch_grams b
        WHERE NOT EXISTS (SELECT 1 FROM lake_grams l WHERE l.g = b.g))
         AS novel_grams,
       floor((SELECT CAST(count(*) AS DOUBLE) FROM batch_grams b
              WHERE NOT EXISTS (SELECT 1 FROM lake_grams l WHERE l.g = b.g))
             / (SELECT count(*) FROM batch_grams) * 1000000 + 0.5)
         / 1000000 AS novelty_rate
""",
)
def text_batch_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental information gain of an ingest batch: the share of
    the batch's distinct 3-gram shingles NEVER seen in the lake — near
    0 means the batch is re-hashed content not worth paying training
    compute for, complementing dedup_incremental_batch (which asks
    about whole documents; this measures partial novelty). Both sides
    reduce to DISTINCT md5 shingle digests before the anti-join, so
    text never shuffles and the join keys are 16 bytes — the lake-side
    relation is the same digest index the incremental dedup keeps."""
    d = Tables(spark, sf_dir).documents
    toks = tokens()
    grams = F.expr(_shingles_sql("md5({})", distinct=False))

    def gram_set(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("toks", toks)
            .select(F.explode(grams).alias("g"))
            .distinct()
        )

    lake = gram_set(d.filter(F.col("doc_id") % 3 != 0))
    batch = gram_set(d.filter(F.col("doc_id") % 3 == 0))
    novel = batch.join(lake, "g", "left_anti")
    n_batch = batch.agg(
        F.count(F.lit(1)).alias("batch_distinct_grams")
    )
    n_novel = novel.agg(F.count(F.lit(1)).alias("novel_grams"))
    return (
        n_batch.crossJoin(F.broadcast(n_novel))
        .select(
            "batch_distinct_grams",
            "novel_grams",
            pround(
                F.col("novel_grams").cast("double")
                / F.col("batch_distinct_grams")
            ).alias("novelty_rate"),
        )
    )


@register(
    "text_token_length_histogram",
    oracle=f"""
WITH toks AS (
  SELECT len(unnest({tokens_sql()})) AS tok_len FROM documents
)
SELECT CAST(least(tok_len, 15) AS BIGINT) AS len_band,
       count(*) AS n_tokens
FROM toks WHERE tok_len > 0
GROUP BY 1
""",
)
def text_token_length_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-length histogram (15+ capped): the tokenizer diagnostic
    that predicts subword fertility — a corpus heavy in long tokens
    fragments into more subwords per word, inflating effective token
    budgets (text_token_count measures totals; this explains them).
    One explode + bounded-band aggregate; output ≤15 rows at any
    scale."""
    d = Tables(spark, sf_dir).documents
    toks = (
        d.select(F.explode(tokens()).alias("tok"))
        .select(F.length("tok").alias("tok_len"))
        .filter(F.col("tok_len") > 0)
    )
    return toks.groupBy(
        F.least(F.col("tok_len"), F.lit(15)).cast("bigint").alias("len_band")
    ).agg(F.count(F.lit(1)).alias("n_tokens"))


@register(
    "text_rank_stability_spearman",
    oracle=f"""
WITH h1 AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest({tokens_sql()}) AS w
    FROM documents WHERE doc_id % 2 = 0) GROUP BY w
),
h2 AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest({tokens_sql()}) AS w
    FROM documents WHERE doc_id % 2 = 1) GROUP BY w
),
r1 AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM h1),
r2 AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM h2),
paired AS (
  SELECT r1.r AS ra, r2.r AS rb
  FROM r1 JOIN r2 ON r1.w = r2.w
)
SELECT count(*) AS n_shared_tokens,
       floor((1 - 6.0 * sum(CAST((ra - rb) * (ra - rb) AS DOUBLE))
                  / (count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1)))
             * 1000000 + 0.5) / 1000000 AS spearman_rho,
       CAST(max(abs(ra - rb)) AS BIGINT) AS max_rank_shift
FROM paired
""",
)
def text_rank_stability_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary rank stability between corpus halves: Spearman's ρ
    over token frequency RANKS (1 − 6Σd²/(n(n²−1))) plus the largest
    single rank shift — the rank-based drift lens that ignores scale
    and sees only reordering, complementing the mass-based KL/JS
    divergences (a vocabulary can keep its distribution's shape while
    its head reorders — only ranks notice). Ranks break frequency
    ties lexicographically (deterministic cross-engine); d² sums are
    exact integers; one final rounded expression."""
    d = Tables(spark, sf_dir).documents

    def ranks(df: DataFrame, alias: str) -> DataFrame:
        counts = (
            df.select(F.explode(tokens()).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.orderBy(F.desc("c"), F.asc("w"))
        return counts.select(
            "w", F.row_number().over(w).alias(alias)
        )

    r1 = ranks(d.filter(F.col("doc_id") % 2 == 0), "ra")
    r2 = ranks(d.filter(F.col("doc_id") % 2 == 1), "rb")
    paired = r1.join(r2, "w")
    n = F.count(F.lit(1))
    d2 = F.sum(
        ((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))).cast(
            "double"
        )
    )
    rho = 1 - 6.0 * d2 / (n * (n.cast("double") * n - 1))
    return paired.agg(
        n.alias("n_shared_tokens"),
        pround(rho).alias("spearman_rho"),
        F.max(F.abs(F.col("ra") - F.col("rb")))
        .cast("bigint")
        .alias("max_rank_shift"),
    )


_COVERAGE_KS = [1, 2, 4, 8, 16, 32]


@register(
    "text_topk_coverage_curve",
    oracle=f"""
WITH vocab AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest({tokens_sql()}) AS w FROM documents)
  GROUP BY w
),
ranked AS (
  SELECT c,
         row_number() OVER (ORDER BY c DESC, w) AS r,
         sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS tot
  FROM vocab
)
SELECT k,
       floor(CAST(cum_k AS DOUBLE) / tot_k * 1000000 + 0.5) / 1000000
         AS coverage
FROM (
  SELECT g.k,
         max(CASE WHEN r <= g.k THEN cum END) AS cum_k,
         max(tot) AS tot_k
  FROM (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k) g
  CROSS JOIN ranked
  GROUP BY g.k
)
""",
)
def text_topk_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary coverage curve: the share of ALL corpus tokens
    covered by the k most frequent types, k ∈ {{1,2,4,8,16,32}} — the
    Zipf-coverage view that sizes stopword lists and vocabulary
    truncations (where the curve flattens is where extra vocab stops
    paying). Rank/cumulative windows run over the vocab-sized
    aggregate with deterministic count-then-word ordering; the k spine
    reads the max cumulative at each cut. Exact integer token counts,
    one rounded division per k."""
    d = Tables(spark, sf_dir).documents
    vocab = (
        d.select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = vocab.select(
        "c",
        F.row_number().over(w_rank).alias("r"),
        F.sum("c")
        .over(
            w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("tot"),
    )
    spine = spark.createDataFrame(
        [(k,) for k in _COVERAGE_KS], "k int"
    )
    per_k = (
        F.broadcast(spine)
        .crossJoin(ranked)
        .groupBy("k")
        .agg(
            F.max(
                F.when(F.col("r") <= F.col("k"), F.col("cum"))
            ).alias("cum_k"),
            F.max("tot").alias("tot_k"),
        )
    )
    return per_k.select(
        "k",
        pround(F.col("cum_k").cast("double") / F.col("tot_k")).alias(
            "coverage"
        ),
    )


@register(
    "text_naive_bayes_source_classifier",
    oracle=f"""
WITH split AS (
  SELECT doc_id, source, text,
         CASE WHEN {hash_bucket_sql("doc_id", "nb")} <= 'b'
              THEN 'train' ELSE 'test' END AS split
  FROM documents
),
train_tok AS (
  SELECT source, unnest({tokens_sql()}) AS w
  FROM split WHERE split = 'train'
),
counts AS (
  SELECT source, w, count(*) AS c FROM train_tok GROUP BY source, w
),
vocab AS (SELECT DISTINCT w FROM train_tok),
totals AS (
  SELECT source, sum(c) AS t FROM counts GROUP BY source
),
vsize AS (SELECT count(*) AS v FROM vocab),
grid AS (
  SELECT t.source, vb.w,
         ln((coalesce(c.c, 0) + 1.0)
            / (t.t + (SELECT v FROM vsize))) AS ll
  FROM totals t
  CROSS JOIN vocab vb
  LEFT JOIN counts c ON c.source = t.source AND c.w = vb.w
),
priors AS (
  SELECT source, ln(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM split WHERE split = 'train'))
           AS lp
  FROM split WHERE split = 'train' GROUP BY source
),
test_tok AS (
  SELECT doc_id, source AS true_source,
         unnest({tokens_sql()}) AS w
  FROM split WHERE split = 'test'
),
scores AS (
  SELECT tt.doc_id, tt.true_source, g.source AS cand,
         max(p.lp) + sum(g.ll) AS score
  FROM test_tok tt
  JOIN grid g ON g.w = tt.w
  JOIN priors p ON p.source = g.source
  GROUP BY tt.doc_id, tt.true_source, g.source
),
pred AS (
  SELECT doc_id, true_source, cand AS predicted_source,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY floor(score * 1e9 + 0.5) DESC, cand) AS rn
  FROM scores
)
SELECT true_source, predicted_source, count(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_source, predicted_source
""",
)
def text_naive_bayes_source_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A TRAINED model inside the engine: multinomial Naive Bayes with
    add-one smoothing learns P(token|source) on a 75% train fold (salted
    hash buckets 0 … b, ``hash_bucket``) and classifies the held-out 25%
    (buckets c … f) by argmax of
    prior + Σ log-likelihood; output is the test confusion matrix.
    Every probability is a ratio of exact integer counts, so both
    engines build identical log-likelihood tables; per-doc score sums
    are rounded to 9 dp BEFORE the argmax with a source-name tie-break
    (the round-before-rank rule) so accumulation order can never flip
    a prediction. The scale shape: training is one (source, token)
    aggregate; the dense vocab×sources likelihood grid is
    vocabulary-bounded; scoring is one equality join on token — no
    per-class scan, no Python. Tokens unseen in training drop out of
    scoring identically on both sides (inner join to the vocab grid)."""
    d = Tables(spark, sf_dir).documents
    nib = hash_bucket("doc_id", "nb")
    split = d.select(
        "doc_id",
        "source",
        "text",
        F.when(nib <= "b", "train").otherwise("test").alias("split"),
    )
    train = split.where(F.col("split") == "train")
    train_tok = train.select(
        "source", F.explode(tokens()).alias("w")
    )
    counts = train_tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = train_tok.select("w").distinct()
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    grid = (
        F.broadcast(totals)
        .crossJoin(vocab)
        .join(counts, ["source", "w"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "source",
            "w",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("t") + F.col("v"))
            ).alias("ll"),
        )
    )
    priors = (
        train.groupBy("source")
        .agg(F.count(F.lit(1)).alias("nc"))
        .select(
            "source",
            F.log(
                F.col("nc").cast("double")
                / F.sum("nc").over(Window.partitionBy())
            ).alias("lp"),
        )
    )
    test_tok = split.where(F.col("split") == "test").select(
        "doc_id",
        F.col("source").alias("true_source"),
        F.explode(tokens()).alias("w"),
    )
    scores = (
        test_tok.join(
            grid.select(F.col("source").alias("cand"), "w", "ll"), "w"
        )
        .join(
            F.broadcast(priors.select(F.col("source").alias("cand"), "lp")),
            "cand",
        )
        .groupBy("doc_id", "true_source", "cand")
        .agg((F.max("lp") + F.sum("ll")).alias("score"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc(F.floor(F.col("score") * 1e9 + 0.5)), F.asc("cand")
    )
    pred = scores.select(
        "true_source",
        F.col("cand").alias("predicted_source"),
        F.row_number().over(w_doc).alias("rn"),
    ).where(F.col("rn") == 1)
    return pred.groupBy("true_source", "predicted_source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# Pair extraction is capped at the first 50 chars of a word on BOTH sides
# (deterministic, engine-identical); real corpora tokenize far below that.
_BPE_CAP = 49


@register(
    "text_bpe_pair_merge",
    oracle=rf"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
ww AS (SELECT w FROM words WHERE length(w) >= 2),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
  FROM ww CROSS JOIN generate_series(1, {_BPE_CAP}) AS g(i)
  WHERE i <= length(w) - 1)
SELECT pair, count(*) AS n FROM pairs
GROUP BY 1 ORDER BY n DESC, pair LIMIT 20
""",
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, iteration one: the top-20 adjacent
    character pairs by corpus frequency — the pair a byte-pair-encoding
    trainer (Sennrich 2016, "Neural Machine Translation of Rare Words
    with Subword Units") would merge first. Words come from one
    whitespace split + explode; pairs are substr slices over a
    per-word index sequence (JVM-side, no UDF), so total work is linear
    in corpus characters — the same single-shuffle explode+count shape as
    text_tfidf, and the candidate-counting kernel you would iterate for a
    full merge loop. The top-20 cut is n-DESC with a pair tie-break so
    the boundary is deterministic cross-engine. Oracle: DuckDB spells the
    index sequence as a bounded generate_series cross join."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.length("w") - 1, F.lit(_BPE_CAP))
                )
            ).alias("i"),
            "w",
        )
        .select(F.expr("substr(w, i, 2)").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# Synthesized crawl URLs: deterministic host/page from doc_id plus the
# three classic canonicalization hazards — uppercase scheme/host, tracking
# query params (utm_*, ref=), and fragments.
_URL_SYN_SPARK = """
SELECT concat('HTTPS://Ex', CAST(doc_id % 50 AS STRING), '.ORG/Page/',
  CAST(doc_id % 200 AS STRING),
  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&utm_campaign=y'
       WHEN doc_id % 3 = 1 THEN '?ref=abc' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url FROM documents"""

_URL_CANON_TEMPLATE = """
SELECT count(*) AS n_urls, count(DISTINCT url) AS n_raw_distinct,
       count(DISTINCT canon) AS n_canon_distinct,
       CAST(round(1.0 - count(DISTINCT canon) * 1.0 / count(DISTINCT url), 4)
            AS DOUBLE) AS dup_rate
FROM (
  SELECT url,
    concat(lower(regexp_extract(url, '^[Hh][Tt][Tt][Pp][Ss]?://([^/]+)', 1)),
           regexp_extract(regexp_replace(url, '#.*$', ''),
                          '^[^:]+://[^/]+([^?#]*)', 1),
           CASE WHEN {STRIP} <> ''
                THEN concat('?', {STRIP})
                ELSE '' END) AS canon
  FROM ({SYN}) u) t"""

_STRIP_SPARK = (
    "regexp_replace(regexp_replace(regexp_extract(url, '\\\\?([^#]*)', 1), "
    "'(^|&)(utm_[^&]*|ref=[^&]*)', ''), '^&', '')"
)
# DuckDB's regexp_replace replaces only the FIRST match unless given the
# 'g' flag; Spark's replaces every match.
_STRIP_DUCK = (
    "regexp_replace(regexp_replace(regexp_extract(url, '\\?([^#]*)', 1), "
    "'(^|&)(utm_[^&]*|ref=[^&]*)', '', 'g'), '^&', '')"
)


sql_op(
    "text_url_canonicalize_dedup",
    spark_sql=_URL_CANON_TEMPLATE.replace("{STRIP}", _STRIP_SPARK).replace(
        "{SYN}", _URL_SYN_SPARK
    ),
    oracle=_URL_CANON_TEMPLATE.replace("{STRIP}", _STRIP_DUCK).replace(
        "{SYN}", _URL_SYN_SPARK.replace("AS STRING", "AS VARCHAR")
    ),
    doc="""Web-crawl URL canonicalization — the first dedup stage of a crawl
    ingestion pipeline (CommonCrawl-style): lowercase the scheme+host,
    drop fragments, strip tracking params (utm_*, ref=) while preserving
    meaningful query strings, then report raw-vs-canonical distinct
    counts and the implied URL-level dup rate. All regexp expressions are
    JVM-side codegen; the aggregate is one pass. The synthesized URLs (no
    URL column in the corpus) embed the three classic hazards with known
    cardinality: 500 raw variants collapse to exactly 200 canonical
    (host x page residues). Dialect trap pinned by the oracle: DuckDB's
    regexp_replace needs the 'g' flag to match Spark's replace-all
    default — without it the canonical count read 367, not 200.""",
)


@register(
    "text_keyword_extract",
    oracle=f"""
SELECT doc_id, token, tf, rn FROM (
  SELECT doc_id, token, count(*) AS tf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY count(*) DESC, token ASC) AS rn
  FROM (SELECT doc_id, unnest({tokens_sql()}) AS token FROM documents)
  GROUP BY doc_id, token
) WHERE rn <= 3
""",
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per document by term frequency (deterministic tie-break
    on the token): the per-doc keyword kernel. One explode + one
    (doc, token) shuffle; the window partitions by doc_id — bounded
    partitions (a document's vocabulary), no hot-key risk, unlike a
    corpus-wide token window."""
    d = Tables(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("token"))
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "rn")
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
# Spark-side twin with a run-initial guard: Java's backtracking regex
# re-scans the local-part run from EVERY start position inside it — O(n²)
# on a 100k-char single-token document (measured 617 s on the extremes
# tier; DuckDB's RE2 is linear and takes 0.0 s). The negative lookbehind
# makes every mid-run start fail in O(1). Match-set equivalence: '@' is
# not in the local-part class, so a match's local part is always a full
# maximal class-run (greedy backtracking can only see '@' after the run
# end) — every match therefore begins at a run-initial position, which is
# exactly what the lookbehind admits. RE2 has no lookbehind, so the
# oracle keeps the plain pattern; tests/test_edges.py pins the
# equivalence on adversarial strings.
_EMAIL_RE_SPARK = r"(?<![a-zA-Z0-9._%+-])" + _EMAIL_RE
# Oracle-side twin of the lookbehind: RE2 has no lookbehind, so the oracle
# anchors run-initial starts with a consuming prefix group instead —
# `(^|[^class])(EMAIL)` extracting/keeping group 2. This is match-set
# equivalent to the Java lookbehind INCLUDING at restart-after-match
# positions (e.g. 'a@b.cc+x@d.ee': the plain pattern resumes
# mid-run after match 1 and finds a second email the lookbehind rejects;
# the consuming prefix rejects it identically because the prefix char '+'
# is in the local-part class). No overlap hazard for the 'g' replace: a
# match's last char (TLD letter) is always a class char, so it can never
# serve as the next match's (non-class) prefix char. Equivalence pinned in
# tests/test_edges.py on adversarial strings and verified against DuckDB.
_EMAIL_RE_ORACLE = r"(^|[^a-zA-Z0-9._%+-])(" + _EMAIL_RE + ")"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-867-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE_ORACLE}',
                                     '\\1<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       len(regexp_extract_all(text, '{_EMAIL_RE_ORACLE}', 2)) AS n_emails,
       len(regexp_extract_all(text, '{_PHONE_RE}'))  AS n_phones
FROM seeded
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (a training-corpus compliance gate): regex scrubbing of
    emails and phone numbers with per-doc redaction counts. The fixture
    seeds deterministic PII into every 4th document so both the hit and
    no-hit paths are exercised. All JVM-side regex — a 100 TB corpus never
    crosses into Python for scrubbing; at scale the count columns feed the
    quality dashboard, the scrubbed column feeds the sink."""
    d = Tables(spark, sf_dir).documents
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return seeded.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE_SPARK, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE_SPARK), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
    )


_CHUNK_LEN = 32    # tokens per chunk
_CHUNK_STRIDE = 24 # tokens between chunk starts (8-token overlap)


@register(
    "text_chunk_overlap",
    oracle=f"""
SELECT doc_id, i AS chunk_idx,
       array_to_string(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                                  i * {_CHUNK_STRIDE} + {_CHUNK_LEN}), ' ')
         AS chunk_text_arr,
       len(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                      i * {_CHUNK_STRIDE} + {_CHUNK_LEN})) AS n_tokens
FROM (
  SELECT doc_id, {tokens_sql()} AS toks,
         unnest(range(0, CAST(floor((len({tokens_sql()}) - 1)
                                    / {_CHUNK_STRIDE}) AS BIGINT) + 1)) AS i
  FROM documents
)
""",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (context-window prep for training /
    RAG): 32-token chunks every 24 tokens, one row per (doc, chunk) with
    its token count. Pure expression work — sequence + slice + explode, no
    Python; the fan-out is bounded by ceil(len/stride) and each output row
    carries only its own slice, so shuffle volume ≈ corpus size × (1 +
    overlap fraction)."""
    d = Tables(spark, sf_dir).documents.withColumn("toks", tokens())
    chunk_ids = F.sequence(
        F.lit(0),
        F.floor((F.size("toks") - 1) / _CHUNK_STRIDE).cast("bigint"),
    )
    return (
        d.select("doc_id", "toks", F.explode(chunk_ids).alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(
                F.slice(
                    "toks",
                    (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
                    _CHUNK_LEN,
                ),
                " ",
            ).alias("chunk_text_arr"),
            F.size(
                F.slice(
                    "toks",
                    (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
                    _CHUNK_LEN,
                )
            ).cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "text_perplexity_proxy",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql()}) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
total AS (SELECT count(*) AS t FROM toks)
SELECT doc_id,
       round(avg(-ln(CAST(v.c AS DOUBLE) / total.t)), 6) AS avg_neg_logprob,
       count(*) AS n_tokens
FROM toks JOIN vocab v USING (token) CROSS JOIN total
GROUP BY doc_id
""",
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram surprisal score per document (a perplexity proxy — the
    cheap corpus-fit signal quality filters use before any model scoring):
    avg over the doc's tokens of -ln(corpus unigram probability). One
    explode; the vocabulary aggregate is map-side combined and joined back
    broadcast (vocabulary ≪ corpus at every scale); per-doc aggregation is
    the only wide shuffle."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens()).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("t"))
    return (
        toks.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("t"))), 6
            ).alias("avg_neg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@register(
    "text_contamination_ngram",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql()} AS t,
         {hash_bucket_sql("doc_id", "doc")} AS b
  FROM documents
),
grams AS (
  SELECT doc_id, b,
         unnest(list_transform(range(1, len(t) - 5 + 2),
                i -> array_to_string(t[i:i+4], ' '))) AS g
  FROM toks WHERE len(t) >= 5
),
ev AS (SELECT DISTINCT g FROM grams WHERE b >= 'e'),
tr AS (SELECT DISTINCT doc_id, g FROM grams WHERE b < 'e')
SELECT tr.doc_id, count(*) AS n_hit_grams
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
ORDER BY n_hit_grams DESC, tr.doc_id
""",
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the screen every training corpus runs
    before an eval release): 5-gram overlap between the train split and the
    held-out split (the same salted hash buckets as `split_train_eval`;
    buckets e and f are held out). The eval gram set is distinct-deduped
    and — being orders of magnitude smaller than the corpus at every scale — broadcast
    into the probe join; train docs are scored by how many of their
    distinct 5-grams appear verbatim in eval. Expression-only gram
    generation (sequence + slice + array_join), no Python."""
    d = Tables(spark, sf_dir).documents
    t = tokens()
    # project the token array to an ATTRIBUTE before the indexed lambda
    # (capturing the split() expression re-tokenizes per gram — the
    # text_repetition_stats pathology)
    tk = F.col("toks")
    grams = (
        # filter BEFORE sequence(): Spark's sequence(1, n) with n < 1 is a
        # DESCENDING sequence, not empty — short docs must never reach it
        d.select("doc_id", t.alias("toks"))
        .filter(F.size(tk) >= 5)
        .select(
            "doc_id",
            hash_bucket("doc_id", "doc").alias("b"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 4),
                    lambda i: F.array_join(F.slice(tk, i, 5), " "),
                )
            ).alias("g"),
        )
    )
    ev = grams.filter(F.col("b") >= "e").select("g").distinct()
    tr = grams.filter(F.col("b") < "e").select("doc_id", "g").distinct()
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


@register(
    "text_repetition_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql()}) AS tok FROM documents
),
tok_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         max(c) AS top_tok
  FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
  GROUP BY doc_id
),
bi AS (
  -- split hoisted OUT of the lambda: inlined, DuckDB re-splits the text
  -- per bigram — O(tokens x chars), 46 s on 100k-char docs (round 10)
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM (SELECT doc_id, {tokens_sql()} AS toks FROM documents)
  WHERE len(toks) >= 2
),
bi_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
  FROM (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT t.doc_id, n_tokens,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
       round(CAST(top_tok AS DOUBLE) / n_tokens, 6) AS top_token_share,
       round(CAST(top_bigram AS DOUBLE) / n_bigrams, 6) AS top_bigram_share
FROM tok_stats t JOIN bi_stats USING (doc_id)
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screens: per-doc distinct-token ratio, most-
    frequent-token share, and most-frequent-bigram share — the cheap
    signals that catch boilerplate/spam before any model-based scoring.
    Two explode→two-level-aggregate passes (token, bigram), joined on
    doc_id; every ratio is a quotient (engine-safe at any rounding)."""
    d = Tables(spark, sf_dir).documents
    t = tokens()
    toks = d.select("doc_id", F.explode(t).alias("tok"))
    tok_counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )
    # project the token array to an ATTRIBUTE before the indexed lambda:
    # capturing the split() EXPRESSION inside the lambda re-tokenizes the
    # document per element — O(tokens × chars), 78 s vs 0.3 s on the
    # extremes tier's 100k-char docs (measured)
    toks_col = F.col("toks")
    bi = (
        d.select("doc_id", t.alias("toks"))
        .filter(F.size(toks_col) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks_col) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks_col, i),
                        F.element_at(toks_col, i + 1),
                    ),
                )
            ).alias("bg"),
        )
    )
    bi_counts = bi.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bi_stats = bi_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    x = lambda c: F.col(c).cast("double")  # noqa: E731
    return tok_stats.join(bi_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(x("n_distinct") / x("n_tokens"), 6).alias("distinct_ratio"),
        F.round(x("top_tok") / x("n_tokens"), 6).alias("top_token_share"),
        F.round(x("top_bigram") / x("n_bigrams"), 6).alias("top_bigram_share"),
    )


@register(
    "text_vocab_growth",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql()}) AS tok FROM documents
),
firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
per_doc AS (
  SELECT first_doc AS doc_id, count(*) AS n_new
  FROM firsts GROUP BY first_doc
)
SELECT doc_id, n_new,
       CAST(sum(n_new) OVER (ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM per_doc
ORDER BY doc_id
""",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps-law diagnostic — how fast the corpus
    stops yielding new tokens, a saturation signal for data collection):
    each token is attributed to the first doc that introduces it
    (min(doc_id) per token — a uniform-key aggregate), then a running sum
    over doc order. The cumsum's single-partition window runs over the
    ALREADY-AGGREGATED per-doc relation (≤ one row per doc introducing
    anything new — vanishingly small next to the token relation), so the
    narrow final window is not the bottleneck at any scale."""
    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens()).alias("tok"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_doc.select(
        "doc_id", "n_new", F.sum("n_new").over(w).alias("vocab_size")
    )


@register(
    "text_mixture_weights",
    oracle=f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len({tokens_sql()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_langs FROM per_lang)
SELECT lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS actual_share,
       round((1.0 / n_langs) / (CAST(n_tokens AS DOUBLE) / total_tokens), 6)
         AS sampling_weight
FROM per_lang, tot
""",
)
def text_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting for pretraining: per-language token counts
    and the per-doc sampling weight that moves the corpus to a uniform
    language target (weight = target_share / actual_share). Token counting
    is a map-side expression; the per-lang relation is vocabulary-of-langs
    sized, so the scalar totals are a broadcast cross join."""
    t = Tables(spark, sf_dir)
    per_lang = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens())).alias("n_tokens"),
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("actual_share"),
        F.round((1.0 / F.col("n_langs")) / share, 6).alias("sampling_weight"),
    )


@register(
    "text_zipf_slope",
    oracle=f"""
WITH freqs AS (
  SELECT token, count(*) AS freq
  FROM (SELECT unnest({tokens_sql()}) AS token FROM documents)
  GROUP BY token
),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM freqs
)
SELECT count(*) AS n_tokens_used,
       round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope
FROM ranked WHERE rank <= 1000
""",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token frequencies: OLS slope of
    ln(freq) on ln(rank) — a natural-text corpus sits near -1, and a big
    deviation flags TEMPLATED or machine-generated data (the quality
    signal). Spark has no regr_slope; covar_pop/var_pop compute the same
    estimator. The rank window runs over the already-aggregated vocabulary
    relation, and the fit itself is a 2-pass-free single aggregate."""
    t = Tables(spark, sf_dir)
    freqs = (
        t.documents.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = freqs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 1000
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens_used"),
        F.round(F.covar_pop(x, y) / F.var_pop(x), 6).alias("zipf_slope"),
    )


@register(
    "text_charset_stats",
    oracle="""
SELECT doc_id,
       round(CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / len(text), 6) AS frac_alpha,
       round(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / len(text), 6) AS frac_digit,
       round(CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
             / len(text), 6) AS frac_space,
       coalesce(CAST(len(text) <> octet_length(encode(text)) AS BOOLEAN),
                false) AS has_non_ascii
FROM documents
""",
)
def text_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class profile: alpha / digit / whitespace
    fractions plus a non-ASCII flag (character length vs UTF-8 byte length
    disagreeing) — the cheap first-pass filters of a web-scale text
    pipeline, all JVM-side expressions. DuckDB needs the 'g' regex flag
    (its regexp_replace is first-match by default; Spark's is global)."""
    t = Tables(spark, sf_dir)
    n = F.length("text")
    def frac(pattern):
        # try_divide: an EMPTY text has n = 0 and DuckDB's x/0 is NULL;
        # ANSI division would crash the whole scan on one degenerate row
        return F.round(
            F.try_divide(
                F.length(F.regexp_replace("text", pattern, "")).cast("double"),
                n,
            ),
            6,
        )
    return t.documents.select(
        "doc_id",
        frac("[^a-zA-Z]").alias("frac_alpha"),
        frac("[^0-9]").alias("frac_digit"),
        frac("[^ ]").alias("frac_space"),
        # coalesce(false) both sides: a NULL boolean crosses the comparison
        # harness asymmetrically (None vs NaN), and "no evidence of
        # non-ASCII" is the honest answer for a missing document
        F.coalesce(
            F.length("text") != F.octet_length("text"), F.lit(False)
        ).alias("has_non_ascii"),
    )


@register(
    "text_length_band_filter",
    oracle=f"""
WITH cuts AS (
  SELECT {percentile_sql("n_chars", 0.05)} AS p05,
         {percentile_sql("n_chars", 0.95)} AS p95
  FROM documents
)
SELECT doc_id, n_chars FROM documents, cuts
WHERE n_chars >= p05 AND n_chars <= p95
""",
)
def text_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-band quality filter: keep documents between the corpus's 5th
    and 95th length percentiles — the standard truncation/boilerplate
    guard. Both cutoffs are ``percentile`` (one linear interpolation
    in the double domain on both engines), so they agree exactly; they
    land as a 1-row broadcast against the scan."""
    t = Tables(spark, sf_dir)
    cuts = t.documents.agg(
        percentile("n_chars", 0.05).alias("p05"),
        percentile("n_chars", 0.95).alias("p95"),
    )
    return (
        t.documents.crossJoin(F.broadcast(cuts))
        .filter((F.col("n_chars") >= F.col("p05")) & (F.col("n_chars") <= F.col("p95")))
        .select("doc_id", "n_chars")
    )


@register(
    "text_sentence_stats",
    oracle="""
WITH sent AS (
  SELECT doc_id, n_chars,
         len(list_filter(string_split_regex(text, '[.!?]'),
                         s -> len(trim(s)) > 0)) AS n_sentences
  FROM documents
)
SELECT doc_id, n_sentences,
       round(CAST(n_chars AS DOUBLE) / greatest(n_sentences, 1), 6)
         AS chars_per_sentence
FROM sent
""",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation statistics: sentence count ([.!?] split,
    empty segments dropped) and mean sentence length per document —
    expression-only (split + filter + size), no Python."""
    t = Tables(spark, sf_dir)
    n_sent = F.size(
        F.filter(
            F.split("text", r"[.!?]"), lambda s: F.length(F.trim(s)) > 0
        )
    )
    return t.documents.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        F.round(
            F.col("n_chars").cast("double") / F.greatest(n_sent, F.lit(1)), 6
        ).alias("chars_per_sentence"),
    )


@register(
    "corpus_source_entropy",
    oracle=f"""
WITH per_source AS (
  SELECT source, sum(len({tokens_sql()})) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total FROM per_source)
SELECT count(*) AS n_sources,
       round(-sum((CAST(n_tokens AS DOUBLE) / total)
                  * log2(CAST(n_tokens AS DOUBLE) / total)), 6)
         AS source_entropy_bits,
       round(pow(2.0, -sum((CAST(n_tokens AS DOUBLE) / total)
                           * log2(CAST(n_tokens AS DOUBLE) / total))), 6)
         AS effective_sources
FROM per_source, tot
""",
)
def corpus_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity entropy: token-weighted Shannon entropy over the
    corpus's source distribution and its exponential (effective source
    count) — the mixture-health number next to text_mixture_weights.
    Two tiny aggregates over the per-source relation; one row out."""
    t = Tables(spark, sf_dir)
    per_source = t.documents.groupBy("source").agg(
        F.sum(F.size(tokens())).alias("n_tokens")
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total"))
    p = F.col("n_tokens").cast("double") / F.col("total")
    ent = -F.sum(p * F.log2(p))
    return (
        per_source.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.round(ent, 6).alias("source_entropy_bits"),
            F.round(F.pow(F.lit(2.0), ent), 6).alias("effective_sources"),
        )
    )


@register(
    "search_inverted_index_and_query",
    oracle=f"""
WITH idx AS (
  SELECT DISTINCT doc_id, unnest({tokens_sql()}) AS term
  FROM documents
)
SELECT 'hash AND join' AS query, count(*) AS n_matches,
       min(a.doc_id) AS first_doc, max(a.doc_id) AS last_doc
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'hash' AND b.term = 'join'
UNION ALL
SELECT 'filter AND merge', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'filter' AND b.term = 'merge'
UNION ALL
SELECT 'scan AND NOT batch', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a
WHERE a.term = 'scan'
  AND NOT EXISTS (SELECT 1 FROM idx b
                  WHERE b.doc_id = a.doc_id AND b.term = 'batch')
""",
)
def search_inverted_index_and_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-index boolean retrieval: the postings relation
    (term → doc) built once, then three query shapes answered from it —
    conjunction (postings self-join on doc), and negation (anti join) —
    the boolean-search core of every lexical engine, and the same
    candidate-generation shape the rare-shingle dedup index uses.
    Postings are distinct (term, doc) pairs; each query touches only
    its terms' postings lists. The index is cached across the three
    queries."""
    d = Tables(spark, sf_dir).documents
    idx = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .distinct()
        .transform(op_cache)
    )

    def postings(term: str) -> DataFrame:
        return idx.filter(F.col("term") == term).select("doc_id")

    def q_and(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    def q_and_not(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id", "left_anti")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    return (
        q_and("hash AND join", "hash", "join")
        .unionByName(q_and("filter AND merge", "filter", "merge"))
        .unionByName(q_and_not("scan AND NOT batch", "scan", "batch"))
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
