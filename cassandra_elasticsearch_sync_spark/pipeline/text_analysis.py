"""Text-analysis operators (SURVEY.md 2.K rows K4-K5 + mandated extras:
language-ID, quality scoring, token counting, document fingerprinting).

Everything is explode + groupBy + broadcast-lexicon joins - the
canonical distributed text-stats shape: token streams shuffle on the
token (bounded vocabulary => tiny shuffle), per-doc stats shuffle on
doc_id. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_elasticsearch_sync_spark.catalog import load_table
from cassandra_elasticsearch_sync_spark.registry import register
from cassandra_elasticsearch_sync_spark.localdata import local_relation

# Scoring lexicon over the corpus's observed vocabulary (FIXTURES.md).
# Defined once here; the oracle embeds the same pairs as a VALUES list.
LEXICON: dict[str, float] = {
    "fast": 2.0,
    "slow": -2.0,
    "big": 1.0,
    "small": -0.5,
    "merge": 0.5,
    "scan": -1.0,
    "query": 1.5,
    "spark": 3.0,
}

_LEXICON_VALUES = ", ".join(f"('{w}', {s})" for w, s in sorted(LEXICON.items()))

# English function words present in the synthetic vocabulary.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register("k4_term_stats", "K4", """
SELECT w AS token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents)
GROUP BY w
""", "Corpus term statistics: term frequency + document frequency")
def k4_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    return tok.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


@register("k4_tfidf", "K4", """
WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
             FROM documents),
tf AS (SELECT doc_id, w AS token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, COUNT(*) AS df
       FROM (SELECT DISTINCT doc_id, w AS token FROM tok) GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token,
       ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
""", "TF-IDF per (doc, token): two aggregates + a broadcast join; the "
     "corpus size joins in as a broadcast scalar, never a collect()")
def k4_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # Partial count-distinct: one exchange on token (map-side partial
    # dedup of (token, doc_id)) instead of distinct()'s full-width
    # shuffle followed by a second token shuffle.
    #
    # Round 13: the "tokenize once" rewrites (DF as a count window
    # over the TF aggregate) were built and MEASURED SLOWER in an
    # interleaved prepared A/B at sf0.1 - median 0.117 s (window after
    # the two-exchange agg) and 0.179 s (single shared exchange via
    # repartition(token), which forfeits map-side partial aggregation
    # and ships the raw token stream) vs 0.090 s for this shape. The
    # second documents scan is cheaper than the window sort at any
    # scale where the scan is columnar and the token stream shrinks in
    # the map-side partials; kept deliberately (guide §1.3).
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@register("k4_bigrams", "K4", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
bg AS (SELECT doc_id, UNNEST([ARRAY_TO_STRING(t[i:i+1], ' ')
                              FOR i IN RANGE(1, LEN(t))]) AS bigram
       FROM tok WHERE LEN(t) >= 2)
SELECT bigram, COUNT(*) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""", "Top-20 bigrams (n-gram generation via sequence+slice, total-order top-k)")
def k4_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bg = d.filter(F.size(F.split("text", " ")) >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(lower(text), ' ')) - 1), "
                "i -> array_join(slice(split(lower(text), ' '), i, 2), ' '))"
            )
        ).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@register("k5_keyword_score", "K5", f"""
WITH lex(word, score) AS (VALUES {_LEXICON_VALUES}),
tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(score AS DECIMAL(38,10))) AS DOUBLE)
             / COUNT(score), 6) AS sentiment,
       COUNT(*) AS n_scored_tokens
FROM tok JOIN lex ON w = word
GROUP BY doc_id
""", "Lexicon sentiment/keyword scoring: broadcast lexicon join + per-doc "
     "average (EDBT'16 pattern, SURVEY.md P:6)")
def k5_keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lex = local_relation(
        spark, sorted(LEXICON.items()), "word string, score double"
    )
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    return (
        tok.join(F.broadcast(lex), tok.w == lex.word)
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("score").cast("decimal(38,10)")).cast("double")
                / F.count("score"),
                6,
            ).alias("sentiment"),
            F.count("*").alias("n_scored_tokens"),
        )
    )


@register("k_lang_id", "K4", f"""
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents)
SELECT doc_id,
       ROUND(CAST(LEN(LIST_FILTER(t, x -> LIST_CONTAINS([{_STOP_SQL}], x))) AS DOUBLE)
             / LEN(t), 6) AS stop_ratio,
       CASE WHEN CAST(LEN(LIST_FILTER(t, x -> LIST_CONTAINS([{_STOP_SQL}], x))) AS DOUBLE)
                 / LEN(t) >= 0.05
            THEN 'en' ELSE 'other' END AS predicted_lang
FROM tok
""", "Heuristic language ID: function-word (stopword) ratio against an "
     "English seed list - the n-gram-free baseline classifier")
def k_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    ratio = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(t)
    return d.select(
        "doc_id",
        F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("predicted_lang"),
    )


@register("k_quality_score", "K4", """
WITH f AS (
  SELECT doc_id,
         n_chars,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' '))) AS n_uniq,
         LEN(REGEXP_EXTRACT_ALL(text, '[^a-z ]')) AS n_nonalpha
  FROM documents)
SELECT doc_id, n_tokens, n_uniq,
       ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5
             + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.4
             + CASE WHEN n_nonalpha = 0 THEN 0.1 ELSE 0.0 END, 6) AS quality
FROM f
""", "Document quality score: length + lexical diversity + charset "
     "cleanliness composite (pretraining-filter heuristic)")
def k_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.lower("text"), " ")))
         .cast("long").alias("n_uniq"),
        F.size(F.regexp_extract_all("text", F.lit("[^a-z ]"), 0)).alias("n_nonalpha"),
    )
    quality = (
        F.least(F.col("n_tokens").cast("double") / 100, F.lit(1.0)) * 0.5
        + (F.col("n_uniq").cast("double") / F.col("n_tokens")) * 0.4
        + F.when(F.col("n_nonalpha") == 0, 0.1).otherwise(0.0)
    )
    return f.select(
        "doc_id", "n_tokens", "n_uniq", F.round(quality, 6).alias("quality")
    )


@register("k_token_count", "K4", """
SELECT doc_id,
       LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
       LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
FROM documents
""", "Token counting: whitespace split + BPE-ish regex segmentation")
def k_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
         .cast("long").alias("bpe_ish_tokens"),
    )


@register("k_fingerprint_rolling", "K4", """
SELECT doc_id,
       LIST_REDUCE(
         LIST_PREPEND(CAST(0 AS BIGINT),
           LIST_TRANSFORM(STRING_SPLIT(LOWER(text), ' '),
             w -> CAST(('0x' || SUBSTR(MD5(w), 1, 15)) AS BIGINT) % 1000003)),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
""", "Order-sensitive rolling-hash fingerprint over the token stream "
     "(polynomial fold mod 1e9+7; detects reorderings that set-based "
     "hashes miss)")
def k_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fold = F.expr(
        "aggregate(transform(split(lower(text), ' '), "
        "w -> CAST(CONV(SUBSTR(MD5(w), 1, 15), 16, 10) AS BIGINT) % 1000003), "
        "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)"
    )
    return d.select("doc_id", fold.alias("fingerprint"))


@register("k_chunk_text", "K4", """
WITH c AS (
  SELECT doc_id, n_chars,
         UNNEST(RANGE(CAST(CEIL(n_chars / 200.0) AS BIGINT))) AS chunk_idx
  FROM documents
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       chunk_idx * 150 + 1 AS start_pos,
       SUBSTRING((SELECT text FROM documents d WHERE d.doc_id = c.doc_id),
                 CAST(chunk_idx * 150 + 1 AS INT), 200) AS chunk
FROM c
WHERE chunk_idx * 150 < n_chars
""", "Fixed-size chunking with overlap (200-char windows, 150-char "
     "stride): the RAG/context-window chunker as pure explode+substring")
def k_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    window, stride = 200, 150
    return (
        d.select(
            "doc_id",
            "text",
            "n_chars",
            F.explode(
                F.sequence(
                    F.lit(0), F.expr(f"CAST(CEIL(n_chars / {window}.0) AS BIGINT) - 1")
                )
            ).alias("chunk_idx"),
        )
        .filter(F.col("chunk_idx") * stride < F.col("n_chars"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * stride + 1).alias("start_pos"),
            F.expr(f"substring(text, CAST(chunk_idx * {stride} + 1 AS INT), {window})")
             .alias("chunk"),
        )
    )


@register("k_pack_sequences", "K4", """
WITH t AS (
  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(cum_before // 512 AS BIGINT) AS pack_id,
       CAST(cum_before % 512 AS BIGINT) AS offset_in_pack
FROM c
""", "Greedy sequence packing for pretraining: documents packed into "
     "~512-token bins by running token cumsum (deterministic doc_id "
     "order; straddling allowed - the standard concat-then-split "
     "packing). Two-pass distributed cumsum (range partition + "
     "broadcast partition offsets), no single-partition window, no "
     "driver loop.")
def k_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id",
                 F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    c, _ = with_global_order(
        t, [F.col("doc_id")], cumsum_of="n_tokens", cumsum_col="cum"
    )
    c = c.withColumn("cum_before", F.col("cum") - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr("CAST(cum_before div 512 AS BIGINT)").alias("pack_id"),
        (F.col("cum_before") % 512).alias("offset_in_pack"),
    )


_PIPELINE_ORACLE = f"""
WITH kept AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY MD5(LOWER(TRIM(text)))
),
docs AS (
  SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)
),
feat AS (
  SELECT doc_id,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' '))) AS n_uniq,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
              x -> LIST_CONTAINS([{_STOP_SQL}], x))) AS DOUBLE)
           / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio
  FROM docs
),
filtered AS (
  SELECT doc_id, n_tokens FROM feat
  WHERE stop_ratio >= 0.05
    AND CAST(n_uniq AS DOUBLE) / n_tokens >= 0.3
    AND n_tokens >= 20
),
packed AS (
  SELECT doc_id, n_tokens,
         (SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
          - n_tokens) // 512 AS pack_id
  FROM filtered
)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY pack_id
"""


@register("k_pipeline_end_to_end", "K1+K4", _PIPELINE_ORACLE,
          "The whole training-data pipeline as ONE composed plan: exact "
          "dedup -> quality + language filters -> greedy 512-token "
          "sequence packing -> per-pack manifest. Every stage is a "
          "narrow/shuffle-minimal transform; Catalyst fuses the filters "
          "into the scan and the packing is the two-pass distributed "
          "cumsum (parallel windows only).")
def k_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents")
    kept = (
        d.groupBy(F.md5(F.lower(F.trim("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    docs = d.join(kept, "doc_id").select("doc_id", "text")
    toks = F.split("text", " ")
    ltoks = F.split(F.lower("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    feat = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(ltoks)).alias("n_uniq"),
        (F.size(F.filter(ltoks, lambda x: F.array_contains(stop_arr, x))).cast("double")
         / F.size(toks)).alias("stop_ratio"),
    )
    filtered = feat.filter(
        (F.col("stop_ratio") >= 0.05)
        & (F.col("n_uniq").cast("double") / F.col("n_tokens") >= 0.3)
        & (F.col("n_tokens") >= 20)
    ).select("doc_id", "n_tokens")
    cumd, _ = with_global_order(
        filtered, [F.col("doc_id")], cumsum_of="n_tokens", cumsum_col="cum"
    )
    packed = cumd.withColumn(
        "pack_id", F.expr("(cum - n_tokens) div 512").cast("bigint")
    )
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register("k4c_char_trigrams", "K4", """
WITH tg AS (
  SELECT doc_id,
         UNNEST([SUBSTRING(text, i, 3) FOR i IN RANGE(1, LENGTH(text) - 1)]) AS trigram
  FROM documents WHERE doc_id % 100 = 0
)
SELECT trigram, COUNT(*) AS n
FROM tg
GROUP BY trigram
HAVING COUNT(*) >= 5
""", "Character trigrams (the language-ID / fuzzy-search feature space; "
     "word shingles are k2's document-level analogue)")
def k4c_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    tg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
            )
        ).alias("trigram")
    )
    return (
        tg.groupBy("trigram").agg(F.count("*").alias("n")).filter(F.col("n") >= 5)
    )


@register("k_repetition_ratio", "K4", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
bg AS (SELECT doc_id, UNNEST([ARRAY_TO_STRING(t[i:i+1], ' ')
                              FOR i IN RANGE(1, LEN(t))]) AS bigram
       FROM tok WHERE LEN(t) >= 2),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
SELECT doc_id,
       MAX(c) AS top_bigram_count,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS repetition_ratio
FROM cnt GROUP BY doc_id
""", "Repetition ratio (Gopher-style quality filter): the most frequent "
     "bigram's share of all bigrams per document - boilerplate and "
     "looped generations score high. Two hash aggregations on "
     "high-cardinality keys (doc_id x bigram, then doc_id): no windows, "
     "no joins, shuffle-minimal at any corpus size.")
def k_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bg = d.filter(F.size(F.split("text", " ")) >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(lower(text), ' ')) - 1), "
                "i -> array_join(slice(split(lower(text), ' '), i, 2), ' '))"
            )
        ).alias("bigram"),
    )
    cnt = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_count"),
        F.sum("c").alias("n_bigrams"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("repetition_ratio"),
    )


_STOPWORDS = ("the", "a", "of", "to", "and")
_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register("k_gopher_quality", "K4", f"""
WITH m AS (
  SELECT doc_id,
         LEN(STRING_SPLIT(text, ' ')) AS n_words,
         CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
           / LEN(STRING_SPLIT(text, ' ')) AS mean_word_len,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                              w -> w IN ({_STOP_IN}))) AS DOUBLE)
           / LEN(STRING_SPLIT(text, ' ')) AS stop_frac
  FROM documents
)
SELECT doc_id, n_words,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(stop_frac, 6) AS stop_frac,
       (n_words >= 20 AND mean_word_len BETWEEN 2 AND 10 AND stop_frac >= 0.01)
         AS keep
FROM m
""", "Gopher-style document quality flags: word count, mean word "
     "length, stopword fraction, and the conjunctive keep decision "
     "(Rae et al. 2021's repetition/quality gate family, the "
     "pretraining pre-filter). Pure per-row expressions - embarrassingly "
     "parallel, no shuffle at all. The list lambda runs once per doc "
     "(not per token per hash like the MinHash hot path), so the "
     "interpreted higher-order function is fine here.")
def k_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_wl = F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words
    stop_in = ", ".join(f"'{w}'" for w in _STOPWORDS)
    stop_frac = (
        F.size(F.expr(f"filter(split(lower(text), ' '), w -> w IN ({stop_in}))"))
        .cast("double") / n_words
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(stop_frac, 6).alias("stop_frac"),
        ((n_words >= 20) & mean_wl.between(2, 10) & (stop_frac >= 0.01)).alias("keep"),
    )


@register("k_bigram_lm", "K4", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
bg AS (SELECT t[i] AS w1, t[i+1] AS w2
       FROM tok, UNNEST(RANGE(1, LEN(t))) AS r(i)
       WHERE LEN(t) >= 2),
c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c) AS n FROM c2 GROUP BY w1)
SELECT c2.w1, c2.w2, c2.c AS pair_count,
       ROUND(CAST(c2.c AS DOUBLE) / c1.n, 6) AS cond_prob
FROM c2 JOIN c1 ON c2.w1 = c1.w1
WHERE c2.c >= 20
""", "Bigram language model table: P(w2|w1) = count(w1 w2)/count(w1 ·) "
     "for pairs seen >= 20 times - the classical n-gram LM estimation "
     "every corpus-statistics pipeline starts from. Two hash "
     "aggregations + one join on the (distinct-bigram-sized, not "
     "corpus-sized) count table; the count(w1) side re-aggregates from "
     "the bigram counts instead of re-scanning the corpus.")
def k_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bg = d.filter(F.size(F.split("text", " ")) >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(lower(text), ' ')) - 1), "
                "i -> struct(element_at(split(lower(text), ' '), i) AS w1, "
                "            element_at(split(lower(text), ' '), i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").alias("n"))
    return (
        c2.join(c1, "w1")
        .filter(F.col("c") >= 20)
        .select(
            "w1", "w2",
            F.col("c").alias("pair_count"),
            F.round(F.col("c").cast("double") / F.col("n"), 6).alias("cond_prob"),
        )
    )


@register("k_pmi_cooccurrence", "K4", """
WITH tok AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
        FROM documents)
),
nw AS (SELECT w, COUNT(*) AS n_w FROM tok GROUP BY w),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n12
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT w1, w2, n12,
       ROUND(LN(CAST(n12 AS DOUBLE) * n_docs
                / (CAST(a.n_w AS DOUBLE) * b.n_w)), 6) AS pmi
FROM pairs
JOIN nw a ON w1 = a.w
JOIN nw b ON w2 = b.w
CROSS JOIN n
WHERE n12 >= 20
""", "Pointwise mutual information of word pairs co-occurring in the "
     "same document - the collocation statistic behind phrase mining "
     "and word-association features. Shape: distinct (doc,word) pairs "
     "self-join on doc_id (per-doc pair fan-out is bounded by the "
     "vocabulary, so the join output is linear in the corpus), then "
     "one pair-keyed aggregate; the unigram counts and the global doc "
     "count broadcast back onto the pair table. PMI's argument is a "
     "ratio of exact integers, so LN sees the identical double in "
     "both engines.")
def k_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).distinct()
    nw = tok.groupBy("w").agg(F.count("*").alias("n_w"))
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.w") < F.col("b.w")))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").alias("n12"))
        .filter(F.col("n12") >= 20)
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    return (
        pairs.join(F.broadcast(nw.withColumnRenamed("w", "w1")
                               .withColumnRenamed("n_w", "nw1")), "w1")
        .join(F.broadcast(nw.withColumnRenamed("w", "w2")
                          .withColumnRenamed("n_w", "nw2")), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1", "w2", "n12",
            F.round(
                F.log(
                    F.col("n12").cast("double") * F.col("n_docs")
                    / (F.col("nw1").cast("double") * F.col("nw2"))
                ), 6,
            ).alias("pmi"),
        )
    )


@register("k4d_tfidf_doc_similarity", "K2+K4", """
WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
             FROM documents),
tf AS (SELECT doc_id, w AS token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, COUNT(*) AS df
       FROM (SELECT DISTINCT doc_id, w AS token FROM tok) GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (SELECT tf.doc_id, tf.token,
             CAST(FLOOR(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)
                        * 1048576.0) AS BIGINT) AS wq
      FROM tf JOIN df USING (token) CROSS JOIN n),
nrm AS (SELECT doc_id, SUM(wq * wq) AS s FROM w GROUP BY doc_id),
dots AS (SELECT a.doc_id AS q_doc, b.doc_id AS doc, SUM(a.wq * b.wq) AS dot
         FROM w a JOIN w b ON a.token = b.token AND a.doc_id <> b.doc_id
         WHERE a.doc_id % 25 = 0
         GROUP BY 1, 2),
cos AS (SELECT q_doc, doc,
               ROUND(CAST(dot AS DOUBLE)
                     / (SQRT(CAST(na.s AS DOUBLE)) * SQRT(CAST(nb.s AS DOUBLE))),
                     6) AS cos_sim
        FROM dots
        JOIN nrm na ON q_doc = na.doc_id
        JOIN nrm nb ON doc = nb.doc_id)
SELECT q_doc, doc, cos_sim FROM (
  SELECT q_doc, doc, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_doc
                            ORDER BY cos_sim DESC, doc) AS rn
  FROM cos)
WHERE rn <= 5
""", "Sparse-vector document similarity: top-5 nearest docs per query "
     "doc under TF-IDF cosine, computed entirely through the inverted "
     "index (postings join on token) - the sparse counterpart of the "
     "dense k3 embedding path, and the retrieval shape BM25/dedup "
     "pipelines share. The query side is a bounded slice (doc_id%25, "
     "~4% of docs) so its postings broadcast and the pair space stays "
     "linear in the corpus; the per-query top-5 window partitions on "
     "q_doc (scale-safe). Weights are floor(tfidf*2^20) BIGINTs, so "
     "dots and norms are exact integer sums in any engine and the "
     "final cosine divide is a deterministic IEEE op.")
def k4d_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # Partial count-distinct: one exchange on token (map-side partial
    # dedup of (token, doc_id)) instead of distinct()'s full-width
    # shuffle followed by a second token shuffle.
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token",
            F.floor(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * F.lit(1048576.0)
            ).cast("bigint").alias("wq"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).alias("s"))
    q = (
        w.filter(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("q_doc"), "token", F.col("wq").alias("wq_q"))
    )
    dots = (
        w.join(F.broadcast(q), "token")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", F.col("doc_id").alias("doc"))
        .agg(F.sum(F.col("wq_q") * F.col("wq")).alias("dot"))
    )
    cos = (
        dots.join(
            F.broadcast(nrm.select(F.col("doc_id").alias("q_doc"),
                                   F.col("s").alias("s_q"))),
            "q_doc",
        )
        .join(nrm.withColumnRenamed("doc_id", "doc").withColumnRenamed("s", "s_d"),
              "doc")
        .select(
            "q_doc", "doc",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("s_q").cast("double"))
                   * F.sqrt(F.col("s_d").cast("double"))),
                6,
            ).alias("cos_sim"),
        )
    )
    win = Window.partitionBy("q_doc").orderBy(F.col("cos_sim").desc(), F.col("doc"))
    return (
        cos.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("q_doc", "doc", "cos_sim")
    )


@register("k4f_winnowing", "K4", """
WITH words AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS w,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) - 1 AS pos
  FROM documents
),
shingles AS (
  SELECT doc_id, pos,
         w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS sh,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_words
  FROM words
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
hashes AS (
  SELECT doc_id, pos, SUBSTR(MD5(sh), 1, 16) AS h, n_words - 2 AS n_sh
  FROM shingles WHERE pos + 2 < n_words
),
mins AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         pos, n_sh
  FROM hashes
)
SELECT doc_id,
       COUNT(DISTINCT fp) AS n_fingerprints,
       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT fp)), ',') AS fingerprints
FROM mins
WHERE pos + 3 < n_sh
GROUP BY doc_id
""", "Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "
     "SIGMOD'03 - the MOSS local fingerprinting scheme): hash every "
     "3-word shingle, then keep the minimum hash of each sliding "
     "window of 4 consecutive shingles. Guarantees any shared run of "
     ">= 6 words between two documents shares a fingerprint, at ~1/4 "
     "the storage of full shingle sets - the substring-dedup index "
     "shape for a 100 TB corpus where whole-doc hashes miss partial "
     "copies. All windows are PARTITIONED BY doc_id (scale-safe, no "
     "global ordering); the hash is MD5 hex (identical in both "
     "engines), and the per-doc fingerprint set is emitted sorted so "
     "the output hash is order-insensitive.")
def k4f_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    cnt = Window.partitionBy("doc_id")
    shingles = words.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", "w", F.lead("w", 1).over(win), F.lead("w", 2).over(win)
        ).alias("sh"),
        F.count("*").over(cnt).alias("n_words"),
    )
    hashes = shingles.filter(F.col("pos") + 2 < F.col("n_words")).select(
        "doc_id",
        "pos",
        F.substring(F.md5("sh"), 1, 16).alias("h"),
        (F.col("n_words") - 2).alias("n_sh"),
    )
    mins = hashes.select(
        "doc_id",
        "pos",
        "n_sh",
        F.min("h").over(win.rowsBetween(0, 3)).alias("fp"),
    )
    return (
        mins.filter(F.col("pos") + 3 < F.col("n_sh"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.array_join(F.array_sort(F.collect_set("fp")), ",").alias(
                "fingerprints"
            ),
        )
    )


@register("k_char_class_profile", "K4", """
SELECT lang,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Za-z]', '', 'g'))) AS DOUBLE)
             / SUM(LENGTH(text)), 6) AS frac_alpha,
       ROUND(CAST(SUM(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) AS DOUBLE)
             / SUM(LENGTH(text)), 6) AS frac_digit,
       ROUND(CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) AS DOUBLE)
             / SUM(LENGTH(text)), 6) AS frac_space
FROM documents
WHERE LENGTH(text) > 0
GROUP BY lang
""", "Character-class profile per language: alpha/digit/whitespace "
     "shares of the corpus - the cheap encoding-corruption and "
     "boilerplate screen run before training (a lang bucket whose "
     "digit share spikes is usually tables/logs, not prose). Class "
     "counts come from length deltas under class-stripping "
     "regexp_replace (the [A-Za-z]/[0-9] classes mean the same thing "
     "in Java regex and RE2), summed as exact bigints per lang; each "
     "share is one bigint/bigint divide. One scan, one small "
     "shuffle - the plan a 100 TB profile run needs.")
def k_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ln = F.length("text")
    alpha = ln - F.length(F.regexp_replace("text", "[A-Za-z]", ""))
    digit = ln - F.length(F.regexp_replace("text", "[0-9]", ""))
    space = ln - F.length(F.regexp_replace("text", " ", ""))
    agg = d.groupBy("lang").agg(
        F.sum(ln).cast("bigint").alias("total_chars"),
        F.sum(alpha).alias("s_alpha"),
        F.sum(digit).alias("s_digit"),
        F.sum(space).alias("s_space"),
    )
    t = F.col("total_chars")
    return agg.select(
        "lang", "total_chars",
        F.round(F.col("s_alpha").cast("double") / t, 6).alias("frac_alpha"),
        F.round(F.col("s_digit").cast("double") / t, 6).alias("frac_digit"),
        F.round(F.col("s_space").cast("double") / t, 6).alias("frac_space"),
    )


@register("k_token_entropy", "K4", """
WITH tok AS (
  SELECT lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t FROM documents
),
cnt AS (
  SELECT lang, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab,
       ROUND(LN(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)))
               / CAST(SUM(c) AS DOUBLE), 6) AS entropy_nats
FROM cnt
GROUP BY lang
""", "Shannon entropy of the unigram distribution per language - the "
     "repetitiveness / diversity score a corpus report carries next "
     "to the dup rate (boilerplate-heavy crawls show up as entropy "
     "collapse). Uses H = ln N - (sum c*ln c)/N so both engines "
     "compute logs of exact INTEGER counts (not of float "
     "probabilities): each ln is one correctly-rounded IEEE op on "
     "the same value and the c*ln(c) sum runs in the same "
     "aggregation tree at 6-dp tolerance. Two hash aggregates on "
     "(lang, token) then (lang) - the word-count plan, linear and "
     "skew-free at any corpus size.")
def k_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    cnt = tok.groupBy("lang", "t").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    s = F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
    return cnt.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.round(F.log(n) - s / n, 6).alias("entropy_nats"),
    )


@register("k_bigram_surprisal", "K4", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
db AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       FROM tok, UNNEST(RANGE(1, LEN(t))) AS r(i)
       WHERE LEN(t) >= 2),
pdb AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM db GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, SUM(k) AS c12 FROM pdb GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c2 GROUP BY w1)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       ROUND((SUM(k * LN(CAST(c1 AS DOUBLE)))
              - SUM(k * LN(CAST(c12 AS DOUBLE)))) / SUM(k), 6) AS avg_nll
FROM pdb JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id
""", "Per-document surprisal under the corpus's own bigram LM: "
     "avg -ln P(w2|w1) = (sum ln c(w1) - sum ln c(w1,w2)) / n - the "
     "perplexity-proxy quality filter (high-surprisal docs are "
     "gibberish/OCR noise, near-zero ones are boilerplate). No "
     "smoothing needed: every doc bigram exists in the corpus it "
     "came from. Scale shape: bigram explode -> count table "
     "(distinct-bigram-sized) -> equi-join doc bigrams back, two "
     "hash aggs + two joins, all on token keys. Float parity: logs "
     "are taken of exact INTEGER counts only (one correctly-rounded "
     "IEEE ln per term, same value both engines), summed per doc at "
     "6-dp tolerance - same discipline as k_token_entropy.")
def k_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    db = d.filter(F.size(F.split("text", " ")) >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(lower(text), ' ')) - 1), "
                "i -> struct(element_at(split(lower(text), ' '), i) AS w1, "
                "            element_at(split(lower(text), ' '), i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    pdb = db.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    c2 = pdb.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        pdb.join(c2, ["w1", "w2"]).join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(
                (
                    F.sum(F.col("k") * F.log(F.col("c1").cast("double")))
                    - F.sum(F.col("k") * F.log(F.col("c12").cast("double")))
                ) / F.sum("k"),
                6,
            ).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------

@register("k_perplexity_buckets", "K4+K5", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
db AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       FROM tok, UNNEST(RANGE(1, LEN(t))) AS r(i)
       WHERE LEN(t) >= 2),
pdb AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM db GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, SUM(k) AS c12 FROM pdb GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c2 GROUP BY w1),
nll AS (
  SELECT doc_id,
         CAST(SUM(k) AS BIGINT) AS n_bigrams,
         ROUND((SUM(k * LN(CAST(c1 AS DOUBLE)))
                - SUM(k * LN(CAST(c12 AS DOUBLE)))) / SUM(k), 6) AS avg_nll
  FROM pdb JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY doc_id
),
j AS (SELECT n.doc_id, d.lang, n.n_bigrams, n.avg_nll
      FROM nll n JOIN documents d ON n.doc_id = d.doc_id)
SELECT doc_id, lang, n_bigrams, avg_nll,
       NTILE(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS tercile,
       CASE NTILE(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM j
""", "CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
     "every document with the LM negative log-likelihood, then split "
     "EACH LANGUAGE into head/middle/tail terciles - the standard "
     "pretraining recipe keeps head+middle and drops or downweights "
     "tail (likely noise), and bucketing per language keeps "
     "low-resource languages from being graded on the high-resource "
     "curve. The LM here is the corpus's own bigram model "
     "(k_bigram_surprisal's exact-count formulation; a real KenLM "
     "slot-in changes only the scoring join). The tercile is "
     "computed with the skew-proof grouped-NTILE primitive "
     "(operators/distributed_order.py) - per-partition counts + "
     "broadcast offsets, NO per-language window concentration, so a "
     "90%-English corpus at 100 TB still terciles without a hot "
     "reducer. Order key is the 6-dp-rounded score + doc_id (total, "
     "cross-engine stable under the documented float-threshold "
     "caveat).")
def k_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_elasticsearch_sync_spark.operators.distributed_order import (
        with_grouped_ntile,
    )

    d = load_table(spark, sf_dir, "documents")
    db = d.filter(F.size(F.split("text", " ")) >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(lower(text), ' ')) - 1), "
                "i -> struct(element_at(split(lower(text), ' '), i) AS w1, "
                "            element_at(split(lower(text), ' '), i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # Pre-aggregate to DISTINCT (doc, bigram) pairs before joining the
    # count tables: the join input shrinks from raw occurrences to
    # distinct pairs and each log is taken once per pair (weighted by
    # its in-doc count k) - same math, measured 1.7x faster at 30x
    # docs, and the per-key join groups stop growing with repetition.
    pdb = db.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    c2 = pdb.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    nll = (
        pdb.join(c2, ["w1", "w2"]).join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(
                (
                    F.sum(F.col("k") * F.log(F.col("c1").cast("double")))
                    - F.sum(F.col("k") * F.log(F.col("c12").cast("double")))
                ) / F.sum("k"),
                6,
            ).alias("avg_nll"),
        )
    )
    j = nll.join(d.select("doc_id", "lang"), "doc_id")
    tiled = with_grouped_ntile(
        j, ["lang"], [F.col("avg_nll").asc(), F.col("doc_id").asc()],
        3, bucket_col="tercile",
    )
    return tiled.select(
        "doc_id", "lang", "n_bigrams", "avg_nll", "tercile",
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# T5-style span corruption (denoising objective data prep)
# ---------------------------------------------------------------------------

@register("k_span_corruption", "K4", """
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) - 1 AS pos
  FROM documents
),
t AS (
  SELECT doc_id, w, pos, pos // 3 AS chunk,
         (pos // 3) % 7 = 0 AS masked
  FROM tok
),
inp AS (
  SELECT doc_id, pos * 2 AS k, w FROM t WHERE NOT masked
  UNION ALL
  SELECT DISTINCT doc_id, chunk * 6 AS k,
         '<extra_id_' || CAST(chunk // 7 AS VARCHAR) || '>' AS w
  FROM t WHERE masked
),
tgt AS (
  SELECT DISTINCT doc_id, chunk * 6 - 1 AS k,
         '<extra_id_' || CAST(chunk // 7 AS VARCHAR) || '>' AS w
  FROM t WHERE masked
  UNION ALL
  SELECT doc_id, pos * 2 AS k, w FROM t WHERE masked
),
inp_agg AS (
  SELECT doc_id, STRING_AGG(w, ' ' ORDER BY k) AS input_text
  FROM inp GROUP BY doc_id
),
tgt_agg AS (
  SELECT doc_id, STRING_AGG(w, ' ' ORDER BY k) AS target_text
  FROM tgt GROUP BY doc_id
),
ns AS (
  SELECT doc_id, COUNT(DISTINCT chunk) AS n_masked_spans
  FROM t WHERE masked GROUP BY doc_id
)
SELECT i.doc_id, n.n_masked_spans, i.input_text, g.target_text
FROM inp_agg i
JOIN tgt_agg g ON i.doc_id = g.doc_id
JOIN ns n ON i.doc_id = n.doc_id
""", "T5-style span corruption (Raffel et al. 2020): the denoising "
     "pretraining objective's data prep - contiguous token spans are "
     "masked, each replaced in the INPUT by a sentinel <extra_id_k>, "
     "and the TARGET is the sentinel-delimited concatenation of the "
     "masked contents. Deterministic restatement of the random "
     "policy: every 7th 3-token chunk masks (~14% corruption, mean "
     "span 3 - T5's defaults), so the pairs are reproducible and "
     "oracle-checkable; a seeded-hash mask swaps in without "
     "changing the plan. Shape: posexplode -> two branch unions "
     "keyed by an interleaving sort key that places sentinels "
     "exactly at span starts -> two per-doc string reassemblies "
     "(array_sort(collect_list(struct)) - per-doc state only) "
     "joined back. Every stage shuffles on doc_id or token keys; "
     "no windows, no driver loop.")
def k_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).select(
        "doc_id", "w", "pos",
        F.expr("pos div 3").alias("chunk"),
        (F.expr("pos div 3") % 7 == 0).alias("masked"),
    )
    sentinel = F.concat(
        F.lit("<extra_id_"),
        F.expr("chunk div 7").cast("string"),
        F.lit(">"),
    )
    inp = t.filter(~F.col("masked")).select(
        "doc_id", (F.col("pos") * 2).alias("k"), "w"
    ).unionByName(
        t.filter("masked").select(
            "doc_id", (F.col("chunk") * 6).alias("k"), sentinel.alias("w")
        ).distinct()
    )
    tgt = t.filter("masked").select(
        "doc_id", (F.col("chunk") * 6 - 1).alias("k"), sentinel.alias("w")
    ).distinct().unionByName(
        t.filter("masked").select(
            "doc_id", (F.col("pos") * 2).alias("k"), "w"
        )
    )

    def reassemble(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("doc_id").agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(k, w))),"
                " x -> x.w), ' ')"
            ).alias(out)
        )

    ns = (
        t.filter("masked")
        .groupBy("doc_id")
        .agg(F.countDistinct("chunk").alias("n_masked_spans"))
    )
    return (
        reassemble(inp, "input_text")
        .join(reassemble(tgt, "target_text"), "doc_id")
        .join(ns, "doc_id")
        .select("doc_id", "n_masked_spans", "input_text", "target_text")
    )


@register("k_tokenizer_fertility", "K4+D1", """
WITH t AS (
  SELECT doc_id, lang,
         LEN(STRING_SPLIT(text, ' ')) AS n_words,
         LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{1,4}|[^a-z ]')) AS n_subwords
  FROM documents
)
SELECT lang,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_subwords) AS BIGINT) AS subwords,
       ROUND(CAST(SUM(n_subwords) AS DOUBLE) / SUM(n_words), 6)
         AS fertility
FROM t GROUP BY lang
""", "Tokenizer fertility per language: subword tokens emitted per "
     "whitespace word - THE metric for how equitably a tokenizer "
     "treats each language (fertility 3x on one language means 3x "
     "the compute and 1/3 the effective context for the same text; "
     "it drives vocab-allocation decisions). The subword proxy is "
     "the BPE-ish regex tokenizer (k_token_count's): greedy <=4-char "
     "alpha chunks + non-alpha singletons - deterministic, "
     "cross-engine identical. One scan, per-doc counts via JVM "
     "regex, one grouped integer sum; the ratio is a single exact "
     "division (DETERMINISM.md section 7).")
def k_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]{1,4}|[^a-z ]', 0)")
        ).alias("n_subwords"),
    )
    return t.groupBy("lang").agg(
        F.sum("n_words").cast("bigint").alias("words"),
        F.sum("n_subwords").cast("bigint").alias("subwords"),
        F.round(
            F.sum("n_subwords").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
    )


@register("k_chat_template", "K4", """
WITH rendered AS (
  SELECT doc_id, lang,
         '<|user|>' || CHR(10) || 'Summarize the ' || lang ||
         ' document from ' || source || '.' || CHR(10) ||
         '<|assistant|>' || CHR(10) || text || '<|end|>' AS sample
  FROM documents
)
SELECT doc_id, lang,
       LEN(STRING_SPLIT(sample, ' ')) AS n_tokens,
       CASE WHEN LEN(STRING_SPLIT(sample, ' ')) > 96
            THEN 1 ELSE 0 END AS truncated,
       MD5(sample) AS sample_md5
FROM rendered
""", "Instruction-tuning chat-template rendering: each document "
     "becomes a '<|user|> instruction <|assistant|> response <|end|>' "
     "training sample (instruction synthesized from the doc's own "
     "metadata), with a whitespace token count and a "
     "context-window-overflow flag (96 tokens here; 4k/8k in "
     "production - same plan). The md5 of the rendered sample is the "
     "cache/shard key a tokenization stage would use, and hash-matching "
     "it cross-engine proves the template is byte-identical, not just "
     "similar. Pure per-row projection - embarrassingly parallel, no "
     "shuffle, whole-stage-codegen string ops, no UDF.")
def k_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sample = F.concat(
        F.lit("<|user|>\n"),
        F.lit("Summarize the "), F.col("lang"),
        F.lit(" document from "), F.col("source"), F.lit(".\n"),
        F.lit("<|assistant|>\n"), F.col("text"), F.lit("<|end|>"),
    )
    rendered = d.select("doc_id", "lang", sample.alias("sample"))
    n_tok = F.size(F.split("sample", " ")).cast("bigint")
    return rendered.select(
        "doc_id", "lang",
        n_tok.alias("n_tokens"),
        F.when(n_tok > 96, F.lit(1)).otherwise(F.lit(0)).cast("int")
         .alias("truncated"),
        F.md5(F.col("sample").cast("binary")).alias("sample_md5"),
    )


@register("k_rouge_overlap", "K4", """
WITH toks AS (
  SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id, lang, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2, 3
),
paired AS (
  SELECT c.doc_id, c.lang,
         CAST(SUM(LEAST(c.n, r.n)) AS BIGINT) AS clipped,
         (SELECT LEN(STRING_SPLIT(d1.text, ' ')) FROM documents d1
          WHERE d1.doc_id = c.doc_id) AS cand_len,
         (SELECT LEN(STRING_SPLIT(d2.text, ' ')) FROM documents d2
          WHERE d2.doc_id = c.doc_id + 1) AS ref_len
  FROM counts c JOIN counts r
    ON r.doc_id = c.doc_id + 1 AND r.lang = c.lang AND r.tok = c.tok
  GROUP BY c.doc_id, c.lang
)
SELECT doc_id, lang, clipped, cand_len, ref_len,
       ROUND(CAST(clipped AS DOUBLE) / cand_len, 6) AS rouge1_precision,
       ROUND(CAST(clipped AS DOUBLE) / ref_len, 6) AS rouge1_recall,
       ROUND(2.0 * CAST(clipped AS DOUBLE)
             / (CAST(cand_len AS DOUBLE) + CAST(ref_len AS DOUBLE)), 6)
         AS rouge1_f1
FROM paired
""", "ROUGE-1 overlap scoring - the summarization/generation eval "
     "metric as a distributed op: each document scores against its "
     "successor in the same language (the deterministic pair stand-in "
     "for candidate/reference columns; swap in any (cand, ref) pair "
     "at no plan change). Clipped-multiset unigram overlap = "
     "SUM(LEAST(n_cand, n_ref)) over the per-(doc, token) count join "
     "- the textbook definition, all exact integers until the final "
     "P/R/F1 ratios. Plan: one explode + one grouped count + one "
     "equi-join on (pair, token); no per-row Python, no all-pairs - "
     "at 100 TB the join carries only tokens the pair SHARES.")
def k_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("len"))
    counts = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    c = counts.alias("c")
    r = counts.alias("r")
    clipped = (
        c.join(r, (F.col("r.doc_id") == F.col("c.doc_id") + 1)
               & (F.col("r.lang") == F.col("c.lang"))
               & (F.col("r.tok") == F.col("c.tok")))
        .groupBy(F.col("c.doc_id").alias("doc_id"), F.col("c.lang").alias("lang"))
        .agg(F.sum(F.least(F.col("c.n"), F.col("r.n"))).alias("clipped"))
    )
    out = (
        clipped
        .join(lens.withColumnRenamed("len", "cand_len"), "doc_id")
        .join(lens.select((F.col("doc_id") - 1).alias("doc_id"),
                          F.col("len").alias("ref_len")), "doc_id")
    )
    cl = F.col("clipped").cast("double")
    return out.select(
        "doc_id", "lang", "clipped", "cand_len", "ref_len",
        F.round(cl / F.col("cand_len"), 6).alias("rouge1_precision"),
        F.round(cl / F.col("ref_len"), 6).alias("rouge1_recall"),
        F.round(2.0 * cl / (F.col("cand_len").cast("double")
                            + F.col("ref_len").cast("double")), 6)
         .alias("rouge1_f1"),
    )


@register("k_bpe_top_merges", "K4", """
WITH words AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents
),
counted AS (
  SELECT w, COUNT(*) AS freq FROM words WHERE LEN(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT SUBSTR(w, i, 1) AS left_sym, SUBSTR(w, i + 1, 1) AS right_sym,
         freq
  FROM counted, UNNEST(RANGE(1, LEN(w))) AS t(i)
),
scored AS (
  SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM pairs GROUP BY 1, 2
)
SELECT * FROM scored
ORDER BY pair_freq DESC, left_sym, right_sym
LIMIT 20
""", "The BPE-training inner loop as a distributed op: count every "
     "adjacent character pair across the word-frequency table and "
     "rank the top merge candidates - exactly what one iteration of "
     "byte-pair-encoding tokenizer training computes before applying "
     "the best merge and repeating. Word-level pre-aggregation first "
     "(the classic optimization: pair counts weight by word FREQUENCY "
     "rather than re-scanning every occurrence), then a posexplode of "
     "character offsets and one grouped sum - alphabet-bounded output "
     "regardless of corpus size. Iterating = re-running with the "
     "merged vocab, the standard Spark-side tokenizer-training loop.")
def k_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counted = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    # adjacent pair at offset i (1-based substring arithmetic)
    pairs = counted.select(
        "freq", "w",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
    ).select(
        F.expr("substr(w, i, 1)").alias("left_sym"),
        F.expr("substr(w, i + 1, 1)").alias("right_sym"),
        "freq",
    )
    scored = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").alias("pair_freq"))
    return scored.orderBy(
        F.col("pair_freq").desc(), "left_sym", "right_sym").limit(20)


@register("k_kneser_ney_bigram", "K4+H3", """
WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents),
bg AS (SELECT t[i] AS w1, t[i+1] AS w2
       FROM tok, UNNEST(RANGE(1, LEN(t))) AS r(i)
       WHERE LEN(t) >= 2),
c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
lft AS (SELECT w1, SUM(c) AS n1, COUNT(*) AS types_after FROM c2 GROUP BY w1),
rgt AS (SELECT w2, COUNT(*) AS types_before FROM c2 GROUP BY w2),
tot AS (SELECT COUNT(*) AS n_types FROM c2)
SELECT c2.w1, c2.w2, CAST(c2.c AS BIGINT) AS pair_count,
       ROUND(GREATEST(CAST(c2.c AS DOUBLE) - 0.75, 0.0) / lft.n1
             + (0.75 * lft.types_after / lft.n1)
               * (CAST(rgt.types_before AS DOUBLE)
                  / (SELECT n_types FROM tot)), 6) AS p_kn
FROM c2
JOIN lft ON c2.w1 = lft.w1
JOIN rgt ON c2.w2 = rgt.w2
WHERE c2.c >= 20
""", "Kneser-Ney smoothed bigram LM - the estimator real n-gram "
     "models ship (absolute discount d=0.75 + continuation-"
     "probability backoff: P(w2|w1) = max(c-d,0)/c(w1.) + "
     "d*N1+(w1.)/c(w1.) * N1+(.w2)/N1+(..)): the continuation count "
     "asks 'in how many distinct contexts does w2 appear', which "
     "fixes plain MLE's overconfidence on frequent-but-context-"
     "bound words. Every factor is an exact integer aggregate over "
     "the DISTINCT-bigram table (never the raw token stream - the "
     "k_perplexity_buckets lesson), joined back in one pass; the "
     "final smoothing arithmetic is one double expression written "
     "identically on both engines.")
def k_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    bg = (d.select(toks.alias("t"))
          .filter(F.size("t") >= 2)
          .select(F.explode(F.expr(
              "transform(sequence(0, size(t) - 2), "
              "i -> struct(t[i] as w1, t[i + 1] as w2))")).alias("p"))
          .select("p.w1", "p.w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    lft = c2.groupBy("w1").agg(F.sum("c").alias("n1"),
                               F.count("*").alias("types_after"))
    rgt = c2.groupBy("w2").agg(F.count("*").alias("types_before"))
    tot = c2.agg(F.count("*").alias("n_types"))
    j = (c2.join(lft, "w1").join(rgt, "w2")
         .crossJoin(F.broadcast(tot)))
    p_kn = (F.greatest(F.col("c").cast("double") - 0.75, F.lit(0.0))
            / F.col("n1")
            + (0.75 * F.col("types_after") / F.col("n1"))
            * (F.col("types_before").cast("double") / F.col("n_types")))
    return (j.filter(F.col("c") >= 20)
            .select("w1", "w2", F.col("c").cast("bigint").alias("pair_count"),
                    F.round(p_kn, 6).alias("p_kn")))


@register("k_flesch_readability", "K4", """
WITH m AS (
  SELECT doc_id,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_words,
         LEN(regexp_extract_all(LOWER(text), '[aeiouy]+')) AS n_syll
  FROM documents
),
scored AS (
  SELECT doc_id, n_words, n_syll,
         ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / 8.0)
               - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
  FROM m WHERE n_words > 0
)
SELECT CAST(FLOOR(flesch / 10) * 10 AS BIGINT) AS flesch_bucket,
       COUNT(*) AS n_docs,
       ROUND(AVG(CAST(n_syll AS DOUBLE) / n_words), 6) AS avg_syll_per_word
FROM scored GROUP BY 1
""", "Flesch reading-ease scoring - the classic document-quality "
     "readability signal LLM pipelines bucket corpora by. Syllables "
     "are approximated as maximal vowel-group runs ('[aeiouy]+' - "
     "the standard dictionary-free heuristic) counted with one "
     "regexp sweep per document; the synthetic corpus carries no "
     "sentence punctuation so the words-per-sentence factor uses "
     "the corpus's fixed 8-word clause length. Identical regex on "
     "both engines (RE2-safe subset); integer counts feed one "
     "double expression rounded at 6 dp, then a bucketed histogram "
     "- a narrow map + one grouped aggregate, linear at any scale.")
def k_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    low = F.lower("text")
    n_words = F.size(F.split(low, " "))
    n_syll = F.regexp_count(low, F.lit("[aeiouy]+"))
    m = d.select(F.col("doc_id"), n_words.alias("n_words"),
                 n_syll.alias("n_syll")).filter(F.col("n_words") > 0)
    flesch = F.round(
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double") / 8.0)
        - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")), 6)
    scored = m.withColumn("flesch", flesch)
    return (
        scored.groupBy(
            (F.floor(F.col("flesch") / 10) * 10).cast("bigint")
            .alias("flesch_bucket"))
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg(F.col("n_syll").cast("double")
                           / F.col("n_words")), 6)
             .alias("avg_syll_per_word"))
    )


@register("k_html_strip_ratio", "K4+K5", """
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           '<html><head><title>t</title></head><body><p class="x">'
           || text || '</p><div><a href="/l">link</a></div></body></html>'
         WHEN doc_id % 3 = 1 THEN
           '<body>' || text || '<br/><span>ad ad ad</span></body>'
         ELSE text END AS raw
  FROM documents
),
stripped AS (
  SELECT doc_id, raw,
         TRIM(REGEXP_REPLACE(REGEXP_REPLACE(raw, '<[^>]*>', ' ', 'g'),
                             ' +', ' ', 'g')) AS clean
  FROM seeded
)
SELECT doc_id, LEN(raw) AS raw_len, LEN(clean) AS clean_len,
       ROUND(CAST(LEN(clean) AS DOUBLE) / LEN(raw), 6) AS content_ratio,
       LEN(clean) < LEN(raw) AS had_markup
FROM stripped
""", "HTML boilerplate stripping + content-ratio scoring - the first "
     "transform of every web-crawl ingestion pipeline. Each document "
     "is deterministically wrapped in one of three markup profiles "
     "(full page, partial body + ad span, plain), tags are removed "
     "with the anchored '<[^>]*>' sweep and whitespace re-collapsed, "
     "and the kept/raw length ratio becomes the quality signal "
     "(low ratio = boilerplate-dominated page). Two regexp_replace "
     "passes written identically for Spark's Java regex and DuckDB's "
     "RE2 ('g' flag on the DuckDB side, Spark replaces all by "
     "default); pure narrow map - no shuffle at all.")
def k_html_strip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = (F.when(did % 3 == 0,
                  F.concat(F.lit('<html><head><title>t</title></head>'
                                 '<body><p class="x">'),
                           F.col("text"),
                           F.lit('</p><div><a href="/l">link</a>'
                                 '</div></body></html>')))
           .when(did % 3 == 1,
                 F.concat(F.lit("<body>"), F.col("text"),
                          F.lit("<br/><span>ad ad ad</span></body>")))
           .otherwise(F.col("text")))
    s = d.select("doc_id", raw.alias("raw"))
    clean = F.trim(F.regexp_replace(
        F.regexp_replace("raw", "<[^>]*>", " "), " +", " "))
    s = s.withColumn("clean", clean)
    return s.select(
        "doc_id",
        F.length("raw").cast("long").alias("raw_len"),
        F.length("clean").cast("long").alias("clean_len"),
        F.round(F.length("clean").cast("double") / F.length("raw"), 6)
        .alias("content_ratio"),
        (F.length("clean") < F.length("raw")).alias("had_markup"),
    )


@register("k_code_detect", "K4+K5", """
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' def f(x): return {x: 1}; for i in range(8): y += i;'
         WHEN doc_id % 7 = 0 THEN
           text || ' SELECT a, b FROM t WHERE x = 1;'
         ELSE text END AS body
  FROM documents
),
feats AS (
  SELECT doc_id,
         LEN(regexp_extract_all(body, '[{}();=\\[\\]]')) AS n_punct,
         LEN(regexp_extract_all(LOWER(body),
             '\\b(def|return|for|select|from|where|import|class)\\b'))
           AS n_kw,
         LEN(STRING_SPLIT(body, ' ')) AS n_tokens
  FROM seeded
)
SELECT doc_id, n_punct, n_kw,
       ROUND(CAST(n_punct + 2 * n_kw AS DOUBLE) / n_tokens, 6)
         AS code_score,
       (n_punct + 2 * n_kw) * 20 >= n_tokens AS is_code
FROM feats
""", "Code-vs-prose detection - the language-ID sibling every "
     "pretraining mixture needs to route code into its own bucket. "
     "Documents are deterministically salted with Python- and "
     "SQL-shaped tails; the detector scores structural punctuation "
     "density ([{}();=[]]) plus keyword hits (word-boundary "
     "anchored alternation, identical Java/RE2 semantics) per "
     "token, thresholded at one marker per 20 tokens. Two "
     "regexp_extract sweeps + integer arithmetic - a pure narrow "
     "map with no Python in the plan and no shuffle.")
def k_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body = (F.when(did % 5 == 0,
                   F.concat(F.col("text"),
                            F.lit(" def f(x): return {x: 1}; "
                                  "for i in range(8): y += i;")))
            .when(did % 7 == 0,
                  F.concat(F.col("text"),
                           F.lit(" SELECT a, b FROM t WHERE x = 1;")))
            .otherwise(F.col("text")))
    s = d.select("doc_id", body.alias("body"))
    n_punct = F.regexp_count("body", F.lit(r"[{}();=\[\]]"))
    n_kw = F.regexp_count(
        F.lower("body"),
        F.lit(r"\b(def|return|for|select|from|where|import|class)\b"))
    n_tokens = F.size(F.split(F.col("body"), " "))
    feats = s.select("doc_id", n_punct.cast("long").alias("n_punct"),
                     n_kw.cast("long").alias("n_kw"),
                     n_tokens.alias("n_tokens"))
    return feats.select(
        "doc_id", "n_punct", "n_kw",
        F.round((F.col("n_punct") + 2 * F.col("n_kw")).cast("double")
                / F.col("n_tokens"), 6).alias("code_score"),
        ((F.col("n_punct") + 2 * F.col("n_kw")) * 20
         >= F.col("n_tokens")).alias("is_code"),
    )
