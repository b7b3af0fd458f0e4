"""Text analysis over the `documents` table — token stats, quality
scoring, language ID, fingerprinting.

Everything is a single scan with pure column expressions (regex +
higher-order array functions, whole-stage codegen). No shuffle, no
Python — this is the shape a 100 TB text-pipeline pass must have:
embarrassingly parallel per-document work that Catalyst fuses into
the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mallard_spark.functions.hashing import md5_long_expr, md5_long_sql
from mallard_spark.functions.text import (
    BPE_EXPR,
    BPE_SQL,
    PUNCT_EXPR,
    PUNCT_SQL,
    TOKENS_EXPR,
    TOKENS_SQL,
    word_shingles_sql,
)
from mallard_spark.functions.exec import spread
from mallard_spark.registry import query
from mallard_spark.sources.readers import load_table

STOP_EN = "('the','a','of','and','to')"
STOP_DE = "('der','die','das','und','zu')"
STOP_ES = "('el','la','de','y','que')"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({TOKENS_SQL}) AS n_tokens,
           len({BPE_SQL}) AS n_bpe_tokens,
           length(text) AS n_chars,
           CASE WHEN len({TOKENS_SQL}) = 0 THEN NULL
                ELSE CAST(list_aggregate(list_transform({TOKENS_SQL}, t -> length(t)), 'sum') AS BIGINT)
                     / len({TOKENS_SQL}) END AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pre-tokens."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array once per row — inlining the regex
    # into every sub-expression would re-run it per use
    staged = docs.select(
        "doc_id",
        F.expr(TOKENS_EXPR).alias("toks"),
        F.expr(f"size({BPE_EXPR})").cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        "n_bpe_tokens",
        "n_chars",
        F.expr(
            "CASE WHEN size(toks) = 0 THEN NULL"
            " ELSE cast(aggregate(transform(toks, t -> length(t)),"
            " 0L, (a, x) -> a + x) as bigint) / size(toks) END"
        ).alias("avg_token_len"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           round(
             0.4 * (CASE WHEN len({TOKENS_SQL}) = 0 THEN 0.0
                         ELSE len(list_filter({TOKENS_SQL}, t -> t IN {STOP_EN}))
                              / len({TOKENS_SQL}) END)
           + 0.4 * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                                ELSE len({PUNCT_SQL}) / length(text) END))
           + 0.2 * least(len({TOKENS_SQL}) / 100.0, 1.0)
           , 6) AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword ratio + low punctuation + length."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.expr(TOKENS_EXPR).alias("toks"),
        F.expr(f"size({PUNCT_EXPR})").alias("n_punct"),
        F.length("text").alias("n_chars"),
    )
    return staged.select(
        "doc_id",
        F.expr(
            f"round("
            f" 0.4 * (CASE WHEN size(toks) = 0 THEN 0.0"
            f"   ELSE size(filter(toks, t -> t IN {STOP_EN}))"
            f"        / size(toks) END)"
            f" + 0.4 * (1.0 - (CASE WHEN n_chars = 0 THEN 0.0"
            f"   ELSE n_punct / n_chars END))"
            f" + 0.2 * least(size(toks) / 100.0, 1.0)"
            f", 6)"
        ).alias("quality"),
    )


# ONE definition site for the langid scorer — the accuracy view
# (text_langid) and the confusion matrix (langid_confusion) share it
# on both engines, so they can never drift.
_LANGID_PRED_SQL = (
    "CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en' "
    "WHEN s_de >= s_es THEN 'de' ELSE 'es' END"
)


def _langid_scored_cte() -> str:
    return f"""scored AS (
      SELECT doc_id, lang,
             len(list_filter({TOKENS_SQL}, t -> t IN {STOP_EN})) AS s_en,
             len(list_filter({TOKENS_SQL}, t -> t IN {STOP_DE})) AS s_de,
             len(list_filter({TOKENS_SQL}, t -> t IN {STOP_ES})) AS s_es
      FROM documents
    )"""


def _langid_pred_df(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, pred) — the Spark twin of the oracle CTE."""
    scored = docs.select(
        "doc_id", "lang", F.expr(TOKENS_EXPR).alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.expr(f"size(filter(toks, t -> t IN {STOP_EN}))").alias("s_en"),
        F.expr(f"size(filter(toks, t -> t IN {STOP_DE}))").alias("s_de"),
        F.expr(f"size(filter(toks, t -> t IN {STOP_ES}))").alias("s_es"),
    )
    return scored.withColumn("pred", F.expr(_LANGID_PRED_SQL))


@query(
    "text_langid",
    oracle=f"""
    WITH {_langid_scored_cte()}
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ({_LANGID_PRED_SQL}) = lang
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_match
    FROM scored
    GROUP BY lang
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID vs the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _langid_pred_df(docs)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0)).alias(
                "n_pred_match"
            ),
        )
    )


@query(
    "langid_confusion",
    oracle=f"""
    WITH {_langid_scored_cte()}, p AS (
      SELECT lang, {_LANGID_PRED_SQL} AS pred FROM scored
    ), cells AS (
      SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    ), lt AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS label_total FROM cells GROUP BY lang
    ), pt AS (
      SELECT pred, CAST(SUM(n) AS BIGINT) AS pred_total FROM cells GROUP BY pred
    )
    SELECT c.lang, c.pred, c.n,
           CAST(c.n * 1000000 // lt.label_total AS BIGINT) AS recall_ppm,
           CAST(c.n * 1000000 // pt.pred_total AS BIGINT) AS precision_ppm
    FROM cells c JOIN lt USING (lang) JOIN pt USING (pred)
    ORDER BY c.lang, c.pred
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval view of the language-ID heuristic: the full
    label × prediction confusion matrix with per-cell recall (share
    of the true label) and precision (share of the prediction) in
    exact integer ppm — the dashboard that says WHICH languages the
    router confuses before a curation run trusts its lang column.
    Shares the scorer definition with `text_langid` (cannot drift).

    Scale shape: one corpus scan → (lang, pred) aggregate (≤ #langs²
    rows); the marginals join back onto that tiny matrix, never the
    corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        _langid_pred_df(docs)
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    lt = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("label_total"))
    pt = cells.groupBy("pred").agg(F.sum("n").cast("long").alias("pred_total"))
    return (
        cells.join(F.broadcast(lt), "lang")
        .join(F.broadcast(pt), "pred")
        .select(
            "lang",
            "pred",
            "n",
            F.expr("(n * 1000000) div label_total").cast("long").alias("recall_ppm"),
            F.expr("(n * 1000000) div pred_total").cast("long").alias("precision_ppm"),
        )
        .orderBy("lang", "pred")
    )


@query(
    "text_regex_normalize",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
                              '\s+', ' ', 'g')) AS norm_hash,
           length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS n_consonant_chars
    FROM documents
    """,
)
def text_regex_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-normalization pass (number masking + whitespace collapse),
    content-addressed via md5 so the oracle compares exact outputs
    without shipping full normalized texts."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[0-9]+", "<num>"), "\\s+", " "
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(F.regexp_replace(F.lower("text"), "[aeiou]", "")).cast("long").alias(
            "n_consonant_chars"
        ),
    )


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars, md5(text) AS content_hash,
             len({TOKENS_SQL}) AS n_tokens,
             CASE WHEN len({TOKENS_SQL}) = 0 THEN 0.0
                  ELSE len(list_filter({TOKENS_SQL}, t -> t IN {STOP_EN}))
                       / len({TOKENS_SQL}) END AS sw_ratio
      FROM documents
    ), kept AS (
      SELECT * FROM scored
      WHERE n_tokens >= 10 AND sw_ratio >= 0.02
    ), deduped AS (
      SELECT * FROM kept
      WHERE (content_hash, doc_id) IN (
        SELECT (content_hash, MIN(doc_id)) FROM kept GROUP BY content_hash)
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM deduped GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning pipeline: quality filter
    (min tokens + stopword floor) → exact dedup (keep lowest doc_id)
    → per-language corpus stats. The composition every pretraining
    data pipeline runs, as one declarative plan: Catalyst fuses the
    filter+hash into the scan, dedup is one shuffle, stats another.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5("text").alias("content_hash"),
        F.expr(TOKENS_EXPR).alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        "content_hash",
        F.size("toks").alias("n_tokens"),
        F.expr(
            f"CASE WHEN size(toks) = 0 THEN 0.0"
            f" ELSE size(filter(toks, t -> t IN {STOP_EN})) / size(toks) END"
        ).alias("sw_ratio"),
    )
    kept = scored.filter((F.col("n_tokens") >= 10) & (F.col("sw_ratio") >= 0.02))
    reps = kept.groupBy("content_hash").agg(F.min("doc_id").alias("rep_doc"))
    deduped = kept.join(
        reps,
        (kept.content_hash == reps.content_hash) & (kept.doc_id == reps.rep_doc),
        "left_semi",
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_aggregate(
             list_transform(list_distinct({TOKENS_SQL}),
                            t -> {md5_long_sql("t")}),
             'bit_xor') AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent document fingerprint: XOR of distinct-token
    md5 hashes (commutative ⇒ partitioning-independent, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            f"aggregate(transform(array_distinct({TOKENS_EXPR}),"
            f" t -> {md5_long_expr('t')}),"
            f" cast(0 as bigint), (a, x) -> a ^ x)"
        ).alias("fingerprint"),
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
    ),
    stats AS (
        SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term, tf, df,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM stats, n
    ORDER BY tfidf DESC, term
    LIMIT 30
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: term frequency × inverse document
    frequency, top terms.

    Shape at 100 TB: explode→groupBy is one shuffle on term (partial
    map-side combine makes the exploded volume collapse before the
    exchange); the corpus doc count is a 1-row broadcast. ROUND(...,6)
    per the determinism policy for computed irrationals.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(TOKENS_EXPR)).alias("term"))
    stats = toks.groupBy("term").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(n))
        .select(
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "term")
        .limit(30)
    )


@query(
    "text_ngram_counts",
    oracle=f"""
    WITH grams AS (
        SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
        FROM (SELECT {TOKENS_SQL} AS t FROM documents)
        WHERE len(t) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 40
    """,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram frequency counts (n-gram language-model style).

    The bigram list is built JVM-side with ``transform(sequence(...))``
    over the materialized token array (never inline the tokenizer in
    the lambda — CollapseProject would re-run the regex per index).
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(F.expr(TOKENS_EXPR).alias("t")).filter(F.size("t") >= 2)
    grams = staged.select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(40)
    )


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               len(list_distinct({TOKENS_SQL})) AS uniq,
               len({TOKENS_SQL}) AS total
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(uniq) AS DOUBLE) / SUM(total) AS macro_unique_ratio,
           CAST(SUM(CASE WHEN uniq * 2 < total THEN 1 ELSE 0 END) AS BIGINT) AS repetitive_docs
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: unique-token ratio per doc,
    aggregated per language as a ratio-of-sums.

    Ratio-of-sums (not mean-of-ratios) keeps everything in integer
    arithmetic until one final double division — bit-deterministic
    under any partitioning, unlike summing per-doc doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.expr(f"size(array_distinct({TOKENS_EXPR}))").alias("uniq"),
        F.expr(f"size({TOKENS_EXPR})").alias("total"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("uniq").cast("double") / F.sum("total")).alias("macro_unique_ratio"),
            F.sum(
                F.when(F.col("uniq") * 2 < F.col("total"), 1).otherwise(0)
            ).alias("repetitive_docs"),
        )
        .orderBy("lang")
    )


@query(
    "text_inverted_index",
    oracle=f"""
    WITH postings AS (
        SELECT term, doc_id
        FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents)
        GROUP BY term, doc_id
    )
    SELECT term,
           COUNT(*) AS df,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',') AS first_postings
    FROM postings
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 50
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → document-frequency +
    head of the sorted postings list.

    At scale this is THE retrieval-index build: explode, distinct on
    (term, doc), then one groupBy on term. Postings rendered as a
    sorted joined string (portable across engines; raw arrays hash
    differently).
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", F.explode(F.expr(TOKENS_EXPR)).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.lit(1).alias("_one"))
    )
    return (
        postings.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5), ","
            ).alias("first_postings"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )


@query(
    "array_funcs_parity",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS first3,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS vocab,
           list_contains(string_split(text, ' '), 'the') AS has_the,
           len(list_filter(string_split(text, ' '), t -> length(t) > 4)) AS n_long,
           list_max(string_split(text, ' ')) AS max_token
    FROM documents
    """,
)
def array_funcs_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order-function surface parity on tokenized text.

    split/slice/sort/distinct/contains/filter/max as pure column
    expressions — the whole row stays inside whole-stage codegen
    (one generated function per row, no Python). Array-valued
    intermediates are joined back to strings so the cross-engine
    value compare is scalar.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_join(F.array_sort(F.array_distinct(toks)), " ").alias("vocab"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).cast("long").alias("n_long"),
        F.array_max(toks).alias("max_token"),
    )


# PII masking regexes — identical strings handed to Spark (Java
# regex) and DuckDB (RE2); the subset used here (char classes,
# bounded repeats, greedy +) behaves identically in both.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{1,3}-\d{3}-\d+"
NUM_RE = r"\d{4,}"


@query(
    "text_pii_mask",
    oracle=r"""
    WITH enriched AS (
      SELECT doc_id, lang,
             text || ' reach user' || doc_id || '@mail.example.com or +1-555-' ||
             (doc_id % 10000) || ' acct ' || (doc_id * 7919) AS t0
      FROM documents
    ), m1 AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      FROM enriched
    ), m2 AS (
      SELECT doc_id, lang, n_emails,
             len(regexp_extract_all(t1, '\+?\d{1,3}-\d{3}-\d+')) AS n_phones,
             regexp_replace(t1, '\+?\d{1,3}-\d{3}-\d+', '<PHONE>', 'g') AS t2
      FROM m1
    ), m3 AS (
      SELECT doc_id, lang, n_emails, n_phones,
             len(regexp_extract_all(t2, '\d{4,}')) AS n_nums,
             regexp_replace(t2, '\d{4,}', '<NUM>', 'g') AS t3
      FROM m2
    )
    SELECT doc_id, lang,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           CAST(n_nums AS BIGINT) AS n_nums,
           length(t3) AS masked_len, md5(t3) AS masked_hash
    FROM m3
    """,
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass: email → phone → long-digit-run redaction,
    applied in sequence so later passes never re-count earlier masks.

    The synthetic corpus has no natural PII, so the query first
    appends deterministic fake PII derived from doc_id (the SAME
    expression on both engines) — the masking machinery itself
    (count + replace per category, content hash of the redacted
    text) is what's under test. Pure regexp column expressions:
    single scan, whole-stage codegen, no Python in the hot path.
    """
    docs = load_table(spark, sf_dir, "documents")
    t0 = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        (F.col("doc_id") % 10000).cast("string"),
        F.lit(" acct "),
        (F.col("doc_id") * 7919).cast("string"),
    )
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PHONE_RE, "<PHONE>")
    t3 = F.regexp_replace(t2, NUM_RE, "<NUM>")
    return docs.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(t2, F.lit(NUM_RE), F.lit(0))).cast("long").alias("n_nums"),
        F.length(t3).cast("long").alias("masked_len"),
        F.md5(t3).alias("masked_hash"),
    )


def _entropy_batch(batches):
    """Arrow-batched per-document character entropy (round 16, guide
    §4.2; VERDICT r15 item #4) — the exact value of the HOF-expression
    fold below, reproduced term-for-term:

    - Spark ``split(text, '')`` yields the string's code points;
      Python's UTF-32 encoding is the same sequence, and
      ``length(text)`` == the code-point count on both sides.
    - ``array_sort(array_distinct(chars))`` sorts single-code-point
      strings by UTF-8 binary order, which equals code-point order —
      ``np.unique`` over the code points visits the same distinct
      characters in the same order (batch-vectorized with a
      ``doc_idx·0x110000 + codepoint`` combined key, so one unique()
      call serves the whole batch).
    - Each term ``(c/L) * log2(L/c)`` is the same two IEEE divisions,
      one multiply and one log2; the per-doc sum is ``np.cumsum``
      (defined sequentially: out[i] = out[i-1] + a[i]) — the exact
      left fold ``((0 + t1) + t2) + …`` with the same 0.0 + t1 == t1
      head.
    - log2: numpy's C log2 vs the JVM's — not provably identical per
      ulp, so the replacement is gated EMPIRICALLY like round6_fp:
      verified per-row equal (null-safe, post-round) to the HOF
      expression over the COMPLETE documents corpus at
      sf0.001/0.01/0.1 and the 1M-doc sf10 replica — 0 mismatches
      (see OPTIMIZATION_r16.md). The expression form stays below as
      the semantic spec and DuckDB-oracle mirror; the sf0.01 corpus is
      re-checked against it with the suite
      (``tests/test_operators.py::test_entropy_arrow_pass_matches_hof_spec``).

    The final ``round(, 6)`` and the empty-text CASE stay in the JVM
    projection, so this pass only reproduces the raw fold.
    """
    import numpy as np
    import pyarrow as pa

    log2 = np.log2
    for batch in batches:
        texts = batch.column("text").to_pylist()
        n = len(texts)
        ents = np.zeros(n, dtype=np.float64)
        enc, lens, idxs = [], [], []
        for i, t in enumerate(texts):
            if t:
                enc.append(np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32))
                lens.append(len(t))
                idxs.append(i)
        if enc:
            doc_key = np.repeat(
                np.arange(len(enc), dtype=np.int64),
                np.fromiter((e.size for e in enc), dtype=np.int64),
            )
            combined = doc_key * 0x110000 + np.concatenate(enc).astype(np.int64)
            keys, counts = np.unique(combined, return_counts=True)
            seg_doc = keys // 0x110000
            bounds = np.searchsorted(seg_doc, np.arange(len(enc) + 1))
            c = counts.astype(np.float64)
            L = np.asarray(lens, dtype=np.float64)[seg_doc]
            terms = (c / L) * log2(L / c)
            for j in range(len(enc)):
                lo, hi = bounds[j], bounds[j + 1]
                ents[idxs[j]] = np.cumsum(terms[lo:hi])[-1]
        # NULL text → NULL entropy (the CASE expression's NULL
        # propagation); empty string → 0.0 (its THEN branch)
        mask = np.fromiter((t is None for t in texts), dtype=bool, count=n)
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), batch.column("lang"),
             pa.array(ents, mask=mask)],
            names=["doc_id", "lang", "char_entropy"],
        )



@query(
    "text_entropy",
    oracle="""
    SELECT doc_id, lang,
      CASE WHEN length(text) = 0 THEN 0.0 ELSE
        round(list_aggregate(list_transform(
          list_sort(list_distinct(string_split(text, ''))),
          c -> (len(list_filter(string_split(text, ''), x -> x = c))
                / CAST(length(text) AS DOUBLE))
               * log2(CAST(length(text) AS DOUBLE)
                      / len(list_filter(string_split(text, ''), x -> x = c)))),
          'sum'), 6)
      END AS char_entropy
    FROM documents
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic cheap spam/repetition detector (near-zero entropy = runs
    of one character; English prose sits ~4.0-4.5).

    Plan shape: single scan → one Arrow pass → projection — NO shuffle
    and NO per-char row explosion (exploding to (doc, char) rows and
    re-aggregating would shuffle ~1000× the corpus at 100 TB).

    Round 16 (guide §4.2): the per-row higher-order fold — Spark
    evaluates HOF lambdas INTERPRETED, and this one is
    O(len·distinct_chars) `filter()` scans per doc, twice per distinct
    char — moves to the Arrow-batched numpy pass above (same values,
    see its docstring; the spec expression is kept here as the oracle
    mirror). Paired best-of-3 at sf0.1: 5.21 → measured-after commit
    note; the pass is also `spread()` so the single-partition local
    scan doesn't serialize it on one core.

    Semantic spec (the DuckDB-oracle mirror the Arrow pass reproduces):

        CASE WHEN length(text) = 0 THEN 0.0 ELSE
          round(aggregate(array_sort(array_distinct(split(text, ''))),
                cast(0.0 as double),
                (acc, c) -> acc + (size(filter(chars, x -> x = c)) / L)
                            * log2(L / size(filter(chars, x -> x = c)))), 6)
        END,  L = cast(length(text) as double)
    """
    from mallard_spark.functions.exec import spread
    from mallard_spark.session import ship_package

    ship_package(spark)
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", "lang", "text").mapInArrow(
        _entropy_batch,
        schema="doc_id long, lang string, char_entropy double",
    )
    return raw.select(
        "doc_id", "lang", F.round("char_entropy", 6).alias("char_entropy")
    )


STOP_ALL = (
    "('the','a','of','and','to','der','die','das','und','zu',"
    "'el','la','de','y','que')"
)


@query(
    "filter_cascade_report",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             len({TOKENS_SQL}) AS n_toks,
             len(list_filter({TOKENS_SQL}, t -> t IN {STOP_ALL})) AS n_stop,
             len({PUNCT_SQL}) AS n_punct,
             length(text) AS n_chars,
             CAST(list_aggregate(list_transform({TOKENS_SQL}, t -> length(t)), 'sum')
                  AS BIGINT) AS sum_tok_len
      FROM documents
    ), flags AS (
      SELECT lang,
             CASE WHEN n_toks >= 20 THEN 1 ELSE 0 END AS p_len,
             CASE WHEN 50 * n_stop >= n_toks THEN 1 ELSE 0 END AS p_stop,
             CASE WHEN 10 * n_punct <= n_chars THEN 1 ELSE 0 END AS p_punct,
             CASE WHEN 2 * n_toks <= COALESCE(sum_tok_len, 0)
                   AND COALESCE(sum_tok_len, 0) <= 12 * n_toks
                  THEN 1 ELSE 0 END AS p_toklen
      FROM scored
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(p_len) AS BIGINT) AS n_pass_len,
           CAST(SUM(p_stop) AS BIGINT) AS n_pass_stop,
           CAST(SUM(p_punct) AS BIGINT) AS n_pass_punct,
           CAST(SUM(p_toklen) AS BIGINT) AS n_pass_toklen,
           CAST(SUM(p_len * p_stop * p_punct * p_toklen) AS BIGINT) AS n_pass_all
    FROM flags
    GROUP BY lang
    """,
)
def filter_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade funnel (Dolma/CCNet-style): evaluate
    every document against each cleaning rule independently and
    report per-language pass counts per rule plus the pass-all
    count — the report a curation run produces before committing to
    a filter configuration.

    Rules are pure integer comparisons (ratio thresholds rewritten as
    cross-multiplications, e.g. stop/toks >= 1/50 → 50·stop >= toks)
    so the counts are exact on any engine. Single scan, one partial
    agg by lang — no shuffle of document content at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.expr(f"size({TOKENS_EXPR})").alias("n_toks"),
        F.expr(f"size(filter({TOKENS_EXPR}, t -> t IN {STOP_ALL}))").alias("n_stop"),
        F.expr(f"size({PUNCT_EXPR})").alias("n_punct"),
        F.length("text").alias("n_chars"),
        F.expr(
            f"aggregate(transform({TOKENS_EXPR}, t -> length(t)), 0L, (a, x) -> a + x)"
        ).alias("sum_tok_len"),
    )
    flags = scored.select(
        "lang",
        F.when(F.col("n_toks") >= 20, 1).otherwise(0).alias("p_len"),
        F.when(50 * F.col("n_stop") >= F.col("n_toks"), 1).otherwise(0).alias("p_stop"),
        F.when(10 * F.col("n_punct") <= F.col("n_chars"), 1).otherwise(0).alias("p_punct"),
        F.when(
            (2 * F.col("n_toks") <= F.coalesce(F.col("sum_tok_len"), F.lit(0)))
            & (F.coalesce(F.col("sum_tok_len"), F.lit(0)) <= 12 * F.col("n_toks")),
            1,
        ).otherwise(0).alias("p_toklen"),
    )
    return flags.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("p_len").cast("long").alias("n_pass_len"),
        F.sum("p_stop").cast("long").alias("n_pass_stop"),
        F.sum("p_punct").cast("long").alias("n_pass_punct"),
        F.sum("p_toklen").cast("long").alias("n_pass_toklen"),
        F.sum(
            F.col("p_len") * F.col("p_stop") * F.col("p_punct") * F.col("p_toklen")
        ).cast("long").alias("n_pass_all"),
    )


@query(
    "quality_perplexity_proxy",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({TOKENS_SQL}) AS term FROM documents
    ),
    vocab AS (
        SELECT term,
               CAST(ROUND(-ln(CAST(COUNT(*) AS DOUBLE)
                              / (SELECT COUNT(*) FROM toks)) * 1000000.0)
                    AS BIGINT) AS micro_surprise
        FROM toks GROUP BY term
    ),
    scored AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tok,
               SUM(v.micro_surprise) AS micro_sum
        FROM toks t JOIN vocab v USING (term)
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(micro_sum) AS DOUBLE) / SUM(n_tok) / 1000000.0
               AS avg_surprise_nats,
           CAST(SUM(CASE WHEN micro_sum > 3410000 * n_tok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           ROUND(CAST(SUM(CASE WHEN micro_sum > 3410000 * n_tok THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS flagged_frac
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def quality_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy — the CCNet/Dolma-style quality
    filter: score each doc by its mean per-token surprise −ln p(term)
    under the corpus's own unigram model, flag docs above a
    threshold (rare-token gibberish scores high, common fluent text
    low). The 3.41-nat threshold sits at ~p90 of this corpus's tight
    synthetic-vocabulary distribution so the flag path is exercised;
    a real corpus uses a held-out-LM score with the same plan.

    Determinism: each vocab entry's surprise is rounded ONCE to
    integer micro-nats, so all downstream sums are exact int64 math
    and the doc-level threshold is an integer cross-multiply
    (micro_sum > thr · n_tok) — no float accumulation anywhere.

    Round 12 (VERDICT r11 item #5): the scoring join probes on
    ``xxhash64(term)`` LONGS instead of term strings — profiled at
    sf10, the 60M string-keyed broadcast probes were the whole gap
    (join alone 2.7 s of the 4.4 s total; the doc-level aggregate
    without the join runs in 0.7 s). EXACTNESS IS GUARANTEED, not
    probabilistic: every corpus token's term is in the vocab by
    construction, so the hash join equals the string join unless two
    VOCAB terms collide — and the plan groups the vocab by hash and
    ``raise_error``s on any collision (same-job guard, zero extra
    passes; the fallback is rerunning with the string join). Also
    drops the separate corpus-total pass: total tokens = Σ vocab tf.
    Paired interleaved re-measure at sf10, one calm session: 4.40 →
    2.20 s (DuckDB oracle 0.99 s), values bit-identical. The
    lang-level micro sums reduce in DECIMAL(38) — int64 would wrap
    near 1e12 same-lang tokens (DuckDB's HUGEINT never does).

    Shape at 100 TB: explode→groupBy(term) is one partial-combined
    shuffle producing the vocab (bounded by distinct terms, ~1e7 —
    broadcastable); scoring is corpus-token-hashes ⋈ broadcast
    vocab, then one groupBy(doc) and one tiny groupBy(lang). The
    corpus is never shuffled on anything wider than doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.explode(F.expr(TOKENS_EXPR)).alias("term"))
    vc = toks.groupBy("term").agg(F.count("*").alias("tf"))
    total = vc.agg(F.sum("tf").alias("n_total"))
    vocab = (
        vc.crossJoin(F.broadcast(total))
        .select(
            F.xxhash64("term").alias("__th"),
            F.round(-F.log(F.col("tf").cast("double") / F.col("n_total")) * 1_000_000.0)
            .cast("long")
            .alias("micro_surprise"),
        )
        .groupBy("__th")
        .agg(F.count("*").alias("__k"), F.first("micro_surprise").alias("__ms"))
        .select(
            "__th",
            F.when(F.col("__k") == 1, F.col("__ms"))
            .otherwise(
                F.expr(
                    "CAST(raise_error('vocab xxhash64 collision — "
                    "rerun quality_perplexity_proxy with a string "
                    "join') AS LONG)"
                )
            )
            .alias("micro_surprise"),
        )
    )
    toksh = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(f"transform({TOKENS_EXPR}, t -> xxhash64(t))")
        ).alias("__th"),
    )
    scored = (
        toksh.join(F.broadcast(vocab), "__th")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), F.sum("micro_surprise").alias("micro_sum"))
    )
    flagged = F.when(F.col("micro_sum") > 3_410_000 * F.col("n_tok"), 1).otherwise(0)
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            (
                F.sum(F.col("micro_sum").cast("decimal(38,0)")).cast("double")
                / F.sum("n_tok")
                / 1_000_000.0
            ).alias("avg_surprise_nats"),
            F.sum(flagged).cast("long").alias("n_flagged"),
            F.round(F.sum(flagged).cast("double") / F.count("*"), 6).alias(
                "flagged_frac"
            ),
        )
        .orderBy("lang")
    )


@query(
    "quality_bigram_logprob",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, {TOKENS_SQL} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
      FROM d WHERE len(t) >= 2
    ),
    uni AS (
      SELECT split_part(bigram, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS c1
      FROM bg GROUP BY 1
    ),
    v AS (SELECT COUNT(DISTINCT u) AS vsz FROM (SELECT unnest(t) AS u FROM d)),
    scores AS (
      SELECT b.bigram,
             CAST(ROUND(-ln((b.c2 + 1.0) / (u.c1 + v.vsz)) * 1000000) AS BIGINT)
                 AS micro
      FROM (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram) b
      JOIN uni u ON u.w1 = split_part(b.bigram, ' ', 1)
      CROSS JOIN v
    ),
    docsc AS (
      SELECT g.doc_id, g.lang, COUNT(*) AS n_bg, SUM(s.micro) AS micro_sum
      FROM bg g JOIN scores s USING (bigram)
      GROUP BY g.doc_id, g.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bg) AS BIGINT) AS sum_bigrams,
           CAST(SUM(micro_sum) AS DOUBLE) / SUM(n_bg) / 1000000.0
               AS avg_surprise_nats,
           CAST(SUM(CASE WHEN micro_sum > 3425000 * n_bg THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM docsc GROUP BY lang ORDER BY lang
    """,
)
def quality_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality filter (one step closer to CCNet's KenLM
    than the unigram proxy): score each doc by its mean per-bigram
    surprise −ln p(w₂|w₁) under an add-one-smoothed bigram model
    trained on the corpus itself; flag the high-surprise tail
    (threshold ≈ p90 of this corpus, same rationale as
    quality_perplexity_proxy).

    Determinism: each DISTINCT bigram's surprise is rounded once to
    integer micro-nats (the model tables are vocabulary-sized);
    doc sums and the flag cross-multiply are pure int64.

    Shape at 100 TB: two explode→groupBy passes build the unigram
    and bigram tables (bounded by vocab²·sparsity — the actual
    distinct-bigram count); scoring joins corpus bigrams to the
    BROADCAST score table; the corpus never shuffles on anything
    wider than doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", F.expr(TOKENS_EXPR).alias("t"))
    bg = d.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("bigram"),
    )
    w1 = F.substring_index("bigram", " ", 1)
    uni = bg.groupBy(w1.alias("w1")).agg(F.count("*").alias("c1"))
    vsz = d.select(F.explode("t").alias("u")).agg(
        F.countDistinct("u").alias("vsz")
    )
    bstats = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    scores = (
        bstats.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vsz))
        .select(
            "bigram",
            F.round(
                -F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vsz")))
                * 1_000_000
            )
            .cast("long")
            .alias("micro"),
        )
    )
    docsc = (
        bg.join(F.broadcast(scores), "bigram")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_bg"), F.sum("micro").alias("micro_sum"))
    )
    flagged = F.when(F.col("micro_sum") > 3_425_000 * F.col("n_bg"), 1).otherwise(0)
    return (
        docsc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bg").alias("sum_bigrams"),
            (F.sum("micro_sum").cast("double") / F.sum("n_bg") / 1_000_000.0).alias(
                "avg_surprise_nats"
            ),
            F.sum(flagged).cast("long").alias("n_flagged"),
        )
        .orderBy("lang")
    )


@query(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH d AS (
      SELECT {TOKENS_SQL} AS t FROM documents
    ),
    bg AS (
      SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
      FROM d WHERE len(t) >= 2
    ),
    pair_counts AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT split_part(bigram, ' ', 1) AS w FROM bg
        UNION ALL
        SELECT split_part(bigram, ' ', 2) FROM bg
      ) GROUP BY w
    ),
    n AS (SELECT COUNT(*) AS total FROM bg)
    SELECT p.bigram,
           CAST(p.c12 AS BIGINT) AS c12,
           u1.c AS c1, u2.c AS c2,
           ROUND(ln(CAST(p.c12 AS DOUBLE) * 2.0 * n.total / (u1.c * u2.c)), 6)
               AS pmi
    FROM pair_counts p
    JOIN uni u1 ON u1.w = split_part(p.bigram, ' ', 1)
    JOIN uni u2 ON u2.w = split_part(p.bigram, ' ', 2)
    CROSS JOIN n
    WHERE p.c12 >= 5
    ORDER BY pmi DESC, p.bigram
    LIMIT 30
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent-word pairs — the
    collocation detector (PPMI was the backbone of pre-neural
    distributional semantics, and PMI top-pairs still drive phrase
    mining à la word2phrase): PMI = ln(p(w₁w₂)/(p(w₁)p(w₂))) with a
    min-count floor, top-30.

    Shape at 100 TB: the pair and unigram tables come from two
    partial-combined explode→groupBy passes (vocab-bounded); the PMI
    projection and global top-k run over the VOCABULARY-sized pair
    table only. The log's operands are assembled in one expression
    tree from exact integers, so ROUND(,6) lands identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.expr(TOKENS_EXPR).alias("t")).filter(F.size("t") >= 2)
    bg = d.select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("bigram")
    )
    pair_counts = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    uni = (
        bg.select(F.substring_index("bigram", " ", 1).alias("w"))
        .unionAll(bg.select(F.substring_index("bigram", " ", -1).alias("w")))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    total = bg.agg(F.count("*").alias("total"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        pair_counts.filter(F.col("c12") >= 5)
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "c12",
            "c1",
            "c2",
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * 2.0
                    * F.col("total")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(30)
    )


@query(
    "quality_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({TOKENS_SQL}) AS term FROM documents
    ),
    vocab AS (
        SELECT term,
               CAST(ROUND(-ln(CAST(COUNT(*) AS DOUBLE)
                              / (SELECT COUNT(*) FROM toks)) * 1000000.0)
                    AS BIGINT) AS micro_surprise
        FROM toks GROUP BY term
    ),
    scored AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tok,
               SUM(v.micro_surprise) AS micro_sum
        FROM toks t JOIN vocab v USING (term)
        GROUP BY t.doc_id, t.lang
    ),
    perdoc AS (
        SELECT doc_id, lang, n_tok,
               micro_sum // n_tok AS micro_per_tok
        FROM scored
    ),
    ranked AS (
        SELECT lang, n_tok, micro_per_tok,
               ROW_NUMBER() OVER (
                 PARTITION BY lang ORDER BY micro_per_tok, doc_id
               ) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM perdoc
    )
    SELECT lang,
           CASE (3 * (rk - 1)) // n_lang
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(MIN(micro_per_tok) AS DOUBLE) / 1000000.0 AS min_surprise_nats,
           CAST(MAX(micro_per_tok) AS DOUBLE) / 1000000.0 AS max_surprise_nats,
           CAST(SUM(micro_per_tok) AS DOUBLE) / COUNT(*) / 1000000.0
               AS avg_surprise_nats
    FROM ranked
    GROUP BY lang, (3 * (rk - 1)) // n_lang
    ORDER BY lang, bucket
    """,
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2020):
    rank every document by its per-token unigram surprise WITHIN its
    language and cut the ranking into exact tertiles — 'head' is the
    most-fluent third that CCNet keeps for LM training, 'tail' the
    high-perplexity third it drops. Reports per (lang, bucket) doc
    and token mass plus the surprise range, i.e. the thresholds a
    curation run would freeze for ingestion-time filtering.

    Determinism: the per-doc score is integer micro-nats floor-divided
    by the token count (one int64 per doc, no float accumulation);
    tertile assignment is an exact integer formula over ROW_NUMBER
    with doc_id tiebreak — both engines produce identical buckets,
    not approximately-equal quantiles.

    Shape at 100 TB: the vocab build is one partial-combined
    explode→groupBy (vocab-bounded, broadcastable); scoring joins
    corpus tokens to the BROADCAST vocab; the only per-doc shuffle is
    groupBy(doc_id). The per-lang ranking windows over ONE ROW PER
    DOCUMENT (not per token) — at 100 TB that is the metadata table,
    and a production variant would replace the exact ROW_NUMBER with
    frozen thresholds from this very report.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.explode(F.expr(TOKENS_EXPR)).alias("term"))
    total = toks.agg(F.count("*").alias("n_total"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            F.round(-F.log(F.col("tf").cast("double") / F.col("n_total")) * 1_000_000.0)
            .cast("long")
            .alias("micro_surprise"),
        )
    )
    scored = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), F.sum("micro_surprise").alias("micro_sum"))
    )
    perdoc = scored.select(
        "doc_id", "lang", "n_tok", F.expr("micro_sum DIV n_tok").alias("micro_per_tok")
    )
    ranked = perdoc.select(
        "lang",
        "n_tok",
        "micro_per_tok",
        F.row_number()
        .over(W.partitionBy("lang").orderBy("micro_per_tok", "doc_id"))
        .alias("rk"),
        F.count("*").over(W.partitionBy("lang")).alias("n_lang"),
    )
    bucket_ix = F.expr("(3 * (rk - 1)) DIV n_lang")
    bucket = (
        F.when(bucket_ix == 0, "head").when(bucket_ix == 1, "middle").otherwise("tail")
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            (F.min("micro_per_tok").cast("double") / 1_000_000.0).alias(
                "min_surprise_nats"
            ),
            (F.max("micro_per_tok").cast("double") / 1_000_000.0).alias(
                "max_surprise_nats"
            ),
            (F.sum("micro_per_tok").cast("double") / F.count("*") / 1_000_000.0).alias(
                "avg_surprise_nats"
            ),
        )
        .orderBy("lang", "bucket")
    )


@query(
    "ngram_novelty_score",
    oracle=f"""
    WITH ds AS (
      SELECT DISTINCT doc_id, s.sh
      FROM documents, UNNEST({word_shingles_sql(3)}) s(sh)
    ), df AS (
      SELECT sh, COUNT(*) AS docfreq FROM ds GROUP BY sh
    ), per_doc AS (
      SELECT d.doc_id,
             COUNT(*) AS n_sh,
             SUM(CASE WHEN f.docfreq = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM ds d JOIN df f ON f.sh = d.sh
      GROUP BY d.doc_id
    )
    SELECT doc.source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(p.n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(p.n_novel) AS BIGINT) AS n_novel,
           CAST((SUM(p.n_novel) * 1000000) // SUM(p.n_sh) AS BIGINT) AS novelty_ppm
    FROM per_doc p JOIN documents doc ON doc.doc_id = p.doc_id
    GROUP BY doc.source
    ORDER BY doc.source
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram NOVELTY: the fraction of each document's
    distinct 3-shingles that occur in NO other document (corpus
    docfreq = 1) — the diversity/memorization-risk dial a data-mix
    designer reads next to the duplication metrics (low novelty =
    templated or heavily-duplicated source; `dedup_substring_windows`
    measures the inverse, duplicated mass). Ratio-of-sums in exact
    integers (ppm), one shingle docfreq aggregate + one join back on
    the shingle — linear, the dedup_ngram candidate-generation shape
    without the pair blowup.
    """
    from mallard_spark.functions.text import shingles_of, tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    ds = (
        docs.select("doc_id", tokens().alias("toks"))
        .select("doc_id", F.explode(shingles_of("toks", 3)).alias("sh"))
        .distinct()
    )
    df_ = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("docfreq"))
    per_doc = (
        ds.join(df_, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("docfreq") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.expr("(sum(n_novel) * 1000000) div sum(n_sh)")
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("source")
    )


@query(
    "tokenizer_fertility_report",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len({TOKENS_SQL}) AS n_words,
             len({BPE_SQL}) AS n_bpe,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST((SUM(n_bpe) * 1000000) // SUM(n_words) AS BIGINT) AS fertility_ppm,
           CAST((SUM(n_chars) * 1000000) // SUM(n_bpe) AS BIGINT) AS chars_per_token_ppm
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY (pre-tokens per whitespace
    word) and compression (chars per pre-token) — the
    tokenizer-equity dashboard multilingual-corpus reports publish:
    a language whose fertility is 2x pays 2x the context budget for
    the same content, which feeds directly into `mix_temperature`'s
    up/down-weighting decisions. Ratio-of-sums in exact integer ppm;
    one scan, one #langs-row aggregate, all codegen regex — no UDF.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.expr(f"size({TOKENS_EXPR})").cast("long").alias("n_words"),
        F.expr(f"size({BPE_EXPR})").cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            F.expr("(sum(n_bpe) * 1000000) div sum(n_words)")
            .cast("long")
            .alias("fertility_ppm"),
            F.expr("(sum(n_chars) * 1000000) div sum(n_bpe)")
            .cast("long")
            .alias("chars_per_token_ppm"),
        )
        .orderBy("lang")
    )


ZIPF_TOP_V = 100  # head tokens fitted (a regression wants the head,
# where Zipf holds; the tail bends and would need a truncated fit)

# ONE textual definition of the least-squares formulas, evaluated
# verbatim by BOTH engines so every IEEE operation happens in the
# same order on the same (decimal-exact) inputs.
_ZIPF_SLOPE_SQL = (
    "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_ZIPF_INTERCEPT_SQL = (
    f"(CAST(sy AS DOUBLE) - ({_ZIPF_SLOPE_SQL}) * CAST(sx AS DOUBLE)) / n"
)


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tf AS (
      SELECT t.tok AS token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM documents, UNNEST({TOKENS_SQL}) t(tok)
      GROUP BY t.tok
    ),
    ranked AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
      FROM tf
    ),
    terms AS (
      SELECT ROUND(ln(CAST(rank AS DOUBLE)), 9) AS x9,
             ROUND(ln(CAST(freq AS DOUBLE)), 9) AS y9
      FROM ranked WHERE rank <= {ZIPF_TOP_V}
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x9 AS DECIMAL(20,9))) AS sx,
             SUM(CAST(y9 AS DECIMAL(20,9))) AS sy,
             SUM(CAST(ROUND(x9 * y9, 9) AS DECIMAL(20,9))) AS sxy,
             SUM(CAST(ROUND(x9 * x9, 9) AS DECIMAL(20,9))) AS sxx
      FROM terms
    )
    SELECT n AS n_fit,
           ROUND({_ZIPF_SLOPE_SQL}, 6) AS zipf_slope,
           ROUND({_ZIPF_INTERCEPT_SQL}, 6) AS intercept
    FROM sums
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the token frequency head (round 6): the
    least-squares slope of ln(freq) vs ln(rank) for the top-{V}
    tokens — the corpus-health statistic data-QA dashboards track (a
    natural-language corpus sits near slope −1; boilerplate-heavy or
    synthetic text drifts off it).

    Determinism: per-term ln values round to 9 dp (ln + ROUND proven
    bit-stable across these engines by the tfidf/pmi/perplexity
    oracles), the four regression sums aggregate in exact DECIMAL
    (order-independent), and the final slope/intercept arithmetic is
    ONE textual formula evaluated verbatim by both engines — every
    IEEE op in the same order on identical inputs, rounded at 6 dp.

    Shape at 100 TB: one corpus exchange for the token counts; the
    top-V head comes from a distributed TakeOrdered (orderBy+limit —
    never a global sort), ranks assigned by a window over the
    {V}-row result; the regression runs on one bounded row.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.expr(TOKENS_EXPR)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), "token").limit(ZIPF_TOP_V)
    from pyspark.sql import Window as W

    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("freq"), "token"))
    )
    terms = ranked.select(
        F.expr("ROUND(ln(CAST(rank AS DOUBLE)), 9)").alias("x9"),
        F.expr("ROUND(ln(CAST(freq AS DOUBLE)), 9)").alias("y9"),
    )
    sums = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("CAST(x9 AS DECIMAL(20,9))")).alias("sx"),
        F.sum(F.expr("CAST(y9 AS DECIMAL(20,9))")).alias("sy"),
        F.sum(F.expr("CAST(ROUND(x9 * y9, 9) AS DECIMAL(20,9))")).alias("sxy"),
        F.sum(F.expr("CAST(ROUND(x9 * x9, 9) AS DECIMAL(20,9))")).alias("sxx"),
    )
    return sums.select(
        F.col("n").alias("n_fit"),
        F.expr(f"ROUND({_ZIPF_SLOPE_SQL}, 6)").alias("zipf_slope"),
        F.expr(f"ROUND({_ZIPF_INTERCEPT_SQL}, 6)").alias("intercept"),
    )


@query(
    "text_hapax_ratio",
    oracle=f"""
    WITH w AS (
      SELECT source, t.t AS token
      FROM documents, UNNEST({TOKENS_SQL}) t(t)
    ), cnt AS (
      SELECT source, token, COUNT(*) AS c FROM w GROUP BY source, token
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS distinct_words,
           CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS hapax_count,
           round(CAST(COUNT(*) FILTER (c = 1) AS DOUBLE) / COUNT(*), 6)
             AS hapax_ratio
    FROM cnt GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomenon ratio per source: the fraction of a source's
    vocabulary occurring exactly once. A classic corpus-quality
    signal — generated/spam text collapses the ratio (template
    repetition), OCR/encoding damage inflates it (garbled one-off
    "words"); tracking it per source flags which feeds drift.

    Shape at 100 TB: explode → (source, token) count → per-source
    fold. Both aggregates partial-combine map-side, so the first
    exchange carries distinct (source, token) pairs (vocabulary-
    not corpus-bounded) and the second |sources| rows. The division
    is exact-integer → one correctly-rounded double op, identical on
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(F.expr(TOKENS_EXPR)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    return cnt.groupBy("source").agg(
        F.count("*").cast("long").alias("distinct_words"),
        F.count_if(F.col("c") == 1).cast("long").alias("hapax_count"),
        F.round(
            F.count_if(F.col("c") == 1).cast("double") / F.count("*"), 6
        ).alias("hapax_ratio"),
    )


# the same character class, written once per engine's string-literal
# escape rules: Spark SQL literals consume one backslash level before
# the Java regex compiler sees the pattern; DuckDB passes the literal
# to RE2 verbatim
CODE_SYMBOLS_SPARK = r"[{}();=\\[\\]<>]"
CODE_SYMBOLS_DUCK = r"[{}();=\[\]<>]"
CODE_KEYWORDS = (
    "('def','class','return','import','function','var','const',"
    "'if','else','for','while','int','void','public','static')"
)


@query(
    "text_code_detect",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, '{CODE_SYMBOLS_DUCK}')) AS BIGINT)
             AS n_symbols,
           CAST(len(list_filter({TOKENS_SQL}, t -> t IN {CODE_KEYWORDS}))
                AS BIGINT) AS n_keywords,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE round(
                  (3.0 * len(regexp_extract_all(text, '{CODE_SYMBOLS_DUCK}'))
                   + 5.0 * len(list_filter({TOKENS_SQL},
                                           t -> t IN {CODE_KEYWORDS})))
                  / length(text), 6) END AS code_score
    FROM documents
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic per document: code-symbol density
    (braces/brackets/semicolons/assignment) plus code-keyword token
    hits, combined into one score — the filter a pretraining mix uses
    to route documents to a code pipeline (or exclude them from a
    prose-quality model). Pure per-row codegen expressions — one
    scan, zero shuffles, zero Python; the score arithmetic is
    exact-integer counts through one rounded division, identical on
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    sym = F.size(F.expr(f"regexp_extract_all(text, '{CODE_SYMBOLS_SPARK}', 0)"))
    kw = F.size(F.expr(
        f"filter({TOKENS_EXPR}, t -> t IN {CODE_KEYWORDS})"
    ))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        sym.cast("long").alias("n_symbols"),
        kw.cast("long").alias("n_keywords"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(
            F.round((3.0 * sym + 5.0 * kw) / F.length("text"), 6)
        )
        .alias("code_score"),
    )


@query(
    "text_encoding_report",
    oracle=r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (text LIKE '%' || chr(65533) || '%')
                AS BIGINT) AS docs_with_replacement,
           CAST(SUM(len(regexp_extract_all(text,
                '[\x00-\x08\x0b\x0c\x0e-\x1f]'))) AS BIGINT)
             AS control_chars,
           round(CAST(SUM(len(regexp_extract_all(text, '[^\x00-\x7f]')))
                      AS DOUBLE)
                 / greatest(SUM(length(text)), 1), 6) AS non_ascii_ratio
    FROM documents GROUP BY source
    """,
)
def text_encoding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage report per source: U+FFFD replacement-character
    documents (the signature of decode-with-wrong-charset), control
    characters, and the non-ASCII character ratio — the triage that
    catches a feed whose upstream changed charset before the mojibake
    poisons tokenizer training. Integer counts partial-combine
    map-side (|sources| rows shuffle); the ratio is one division of
    exact integer sums, identical on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    ctrl = F.size(F.expr(
        r"regexp_extract_all(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', 0)"
    ))
    non_ascii = F.size(F.expr(r"regexp_extract_all(text, '[^\\x00-\\x7f]', 0)"))
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_if(F.col("text").contains(chr(65533)))
        .cast("long")
        .alias("docs_with_replacement"),
        F.sum(ctrl).cast("long").alias("control_chars"),
        F.round(
            F.sum(non_ascii).cast("double")
            / F.greatest(F.sum(F.length("text")), F.lit(1)),
            6,
        ).alias("non_ascii_ratio"),
    )
