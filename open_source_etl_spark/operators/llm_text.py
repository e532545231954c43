"""Text-analysis operators for LLM training-data pipelines (EXT,
SURVEY.md §2B): token stats, quality scoring, language ID, BPE-ish
token counting, document fingerprinting.

All pure `pyspark.sql.functions` — tokenization, ratios, and fingerprints
stay inside whole-stage codegen; no Python UDFs in any hot path.  At
100 TB these are embarrassingly parallel single-pass scans (no shuffle at
all except where a group-by is the point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_compute
from ..functions.kgrams import word_kgrams
from ..registry import query

# deliberately tiny, deterministic stopword list shared with the oracles
STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def tokens(col: str = "text"):
    """Whitespace tokenization (documents fixture is single-space soup)."""
    return F.split(F.col(col), " ")


@query(
    "text_token_stats",
    oracle="""
    SELECT
      doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      length(text) AS n_chars,
      len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      ROUND(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
            / len(string_split(text, ' ')), 4) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (whitespace tokenization, single pass)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks)
    return (
        docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.length("text").alias("n_chars"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            F.round(
                (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 4
            ).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT
      doc_id,
      ROUND(CAST(len(list_filter(string_split(text, ' '), w -> w IN {_SW_SQL}))
                 AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio,
      ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')), 4) AS distinct_ratio,
      CASE
        WHEN length(text) < 100 THEN 'too_short'
        WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) < 0.5 THEN 'repetitive'
        ELSE 'ok'
      END AS quality_bucket
    FROM documents
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: stopword ratio, lexical diversity, bucket rule
    (the C4/Gopher-style filter family, deterministic and JVM-side)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    return (
        docs.select(
            "doc_id",
            F.round(sw.cast("double") / n, 4).alias("stopword_ratio"),
            F.round(distinct_ratio, 4).alias("distinct_ratio"),
            F.when(F.length("text") < 100, "too_short")
            .when(distinct_ratio < 0.5, "repetitive")
            .otherwise("ok")
            .alias("quality_bucket"),
        )
        .orderBy("doc_id")
    )


# marker-word sets per language for the n-gram/lexicon language guesser;
# deterministic and shared with the oracle (the fixture text is synthetic
# word soup, so this exercises the machinery, not linguistics)
_LANG_MARKERS = {
    "en": ("the", "fast", "slow", "small"),
    "de": ("der", "und", "nicht", "das"),
    "es": ("el", "la", "que", "de"),
    "fr": ("le", "la", "et", "les"),
}


def _marker_sql(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


@query(
    "text_lang_guess",
    oracle=f"""
    SELECT
      doc_id,
      lang AS labeled_lang,
      CASE
        WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
        WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
        WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
        WHEN fr_hits > 0 THEN 'fr'
        ELSE 'unknown'
      END AS guessed_lang
    FROM (
      SELECT doc_id, lang,
        len(list_filter(string_split(text, ' '), w -> w IN {_marker_sql(_LANG_MARKERS['en'])})) AS en_hits,
        len(list_filter(string_split(text, ' '), w -> w IN {_marker_sql(_LANG_MARKERS['de'])})) AS de_hits,
        len(list_filter(string_split(text, ' '), w -> w IN {_marker_sql(_LANG_MARKERS['es'])})) AS es_hits,
        len(list_filter(string_split(text, ' '), w -> w IN {_marker_sql(_LANG_MARKERS['fr'])})) AS fr_hits
      FROM documents
    )
    ORDER BY doc_id
    """,
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit language ID with a deterministic argmax tie-break
    (en > de > es > fr on equal scores)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()

    def marker_hits(ws: tuple[str, ...]):
        # closure (not a default arg): F.filter treats a 2-param lambda as
        # (element, index) and would pass the index where ws is expected
        return F.size(F.filter(toks, lambda w: w.isin(*ws)))

    hits = {lang: marker_hits(ws) for lang, ws in _LANG_MARKERS.items()}
    en, de, es, fr = hits["en"], hits["de"], hits["es"], hits["fr"]
    guess = (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )
    return (
        docs.select("doc_id", F.col("lang").alias("labeled_lang"), guess.alias("guessed_lang"))
        .orderBy("doc_id")
    )


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT
      doc_id,
      len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
      len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (word / number / symbol classes) —
    the pre-tokenizer pass of GPT-style tokenizers, regex-only."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
            ).alias("n_bpe_tokens"),
            F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_number_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT
      doc_id,
      md5(lower(trim(text))) AS content_hash,
      list_min(list_transform(
        range(1, len(string_split(text, ' ')) - 1),
        i -> md5(string_split(text, ' ')[i] || ' ' ||
                 string_split(text, ' ')[i+1] || ' ' ||
                 string_split(text, ' ')[i+2])
      )) AS min_shingle_hash
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content hash + min-hash over word
    3-gram shingles (the winnowing/MinHash building block, all JVM-side:
    transform over an index sequence, no explode, no shuffle).

    The token array is materialized as a column FIRST: referencing
    ``split(text)`` inside the lambda would re-split the document for
    every element_at (no CSE across lambda invocations) — O(tokens²)
    work per document, measured 5× slower at sf0.1."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
        tokens().alias("toks"),
    )
    toks = F.col("toks")
    # guard: with < 3 tokens there is no shingle, and an unguarded
    # sequence(1, size-2) would run DESCENDING (1, 0, -1) and drive
    # element_at out of bounds under ANSI (perturbed-fixture sweep)
    shingle_hashes = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                )
            ),
        ),
    )
    return (
        with_toks.select(
            "doc_id",
            "content_hash",
            F.array_min(shingle_hashes).alias("min_shingle_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_heavy_hitters",
    oracle="""
    SELECT tok, n_docs, n_total
    FROM (
      SELECT
        tok,
        COUNT(DISTINCT doc_id) AS n_docs,
        COUNT(*) AS n_total
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    )
    ORDER BY n_total DESC, tok
    LIMIT 25
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: top-25 tokens by occurrence with
    document frequency (the vocabulary/stopword-discovery pass of an LLM
    data pipeline).

    One explode + one grouped agg; partial aggregation collapses each
    partition's token counts before the shuffle, so network volume is
    O(distinct tokens), not O(token occurrences).  At 100 TB the same
    query swaps COUNT for a count-min/SpaceSaving sketch to bound memory
    under adversarial vocabularies; exact here so the oracle checks
    values.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy(F.col("n_total").desc(), "tok")
        .limit(25)
    )


@query(
    "text_pii_redact",
    oracle="""
    SELECT
      doc_id,
      regexp_replace(
        regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
        '\\b(you|him|her|me|us)\\b', '<PRON>', 'g'
      ) AS redacted,
      len(regexp_extract_all(text, '[0-9]+')) AS n_redacted_numbers
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based redaction (the PII-scrub pass of a training-data
    pipeline): numbers and a pronoun list replaced by typed placeholder
    tokens, with a redaction count for audit.  Pure regexp_replace —
    JVM-side, single pass, embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"),
        r"\b(you|him|her|me|us)\b",
        "<PRON>",
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias(
            "n_redacted_numbers"
        ),
    ).orderBy("doc_id")


@query(
    "text_edit_distance",
    oracle="""
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) AS prefix_edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE a.doc_id < 100 AND b.doc_id < 100
    ORDER BY doc_a, doc_b
    """,
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance on 60-char prefixes within (lang, source)
    blocks — the character-level near-dup check.  Edit distance is
    O(n·m) per pair, so at scale it runs LAST in the dedup funnel
    (after hash/MinHash/length filters), on candidates only and on
    bounded prefixes, exactly as here."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a = docs.select(
        F.col("doc_id").alias("doc_a"), "lang", "source",
        F.substring("text", 1, 60).alias("pa"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lb"), F.col("source").alias("sb"),
        F.substring("text", 1, 60).alias("pb"),
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lb"))
            & (F.col("source") == F.col("sb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a", "doc_b",
            F.levenshtein("pa", "pb").alias("prefix_edit_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "text_bm25_retrieval",
    # Okapi BM25 with the Lucene IDF (ln(1 + (N-df+.5)/(df+.5))),
    # k1 = 1.2, b = 0.75, a fixed three-term query.  avgdl and the
    # per-term scores are pure functions of integer tf/df/dl inputs,
    # so both engines' doubles agree; rank on the ROUNDED score with
    # a doc_id tiebreak (the tfidf precedent).
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM tok
      WHERE tok IN ('spark', 'join', 'vector')
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             SUM(
               LN(1 + (n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
             ) AS s
      FROM tf
      JOIN df ON tf.tok = df.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25
    FROM scored
    ORDER BY ROUND(s, 6) DESC, doc_id
    LIMIT 15
    """,
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval — the first-stage scorer of every
    hybrid RAG stack beside the vector index: per-document term
    frequencies for a fixed query, Lucene-variant IDF
    ln(1 + (N-df+0.5)/(df+0.5)) so scores stay positive, and the
    k1/b length normalization (1.2 / 0.75) against the corpus's
    average document length.  Top-15 by rounded score with
    deterministic tiebreaks — an EXACT row-set oracle.  Scale: one
    token explode feeding two grouped aggregations (tf filtered to
    the query terms BEFORE the shuffle, so the exchange carries only
    query-term hits), document lengths as a side aggregate, and a
    broadcast of the tiny (term, df) frame — the classic
    inverted-index probe shape without materializing the index."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    terms = ["spark", "join", "vector"]
    tf = (
        tok.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf") * 2.2
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s")
        )
    )
    return (
        scored.select("doc_id", F.round("s", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


@query(
    "text_tfidf_top_terms",
    # rank on the ROUNDED score (6dp) with a token tiebreak: LN() may
    # differ in the last ulp across libm implementations, and ranking the
    # raw double would flip tied rows between engines
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), docfreq AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
        ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / docfreq.df), 6) AS tfidf
      FROM tf JOIN docfreq ON tf.tok = docfreq.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, CAST(rn AS INT) AS rn
    FROM (
      SELECT doc_id, tok, tfidf,
        ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, tok) AS rn
      FROM scored WHERE doc_id < 50
    )
    WHERE rn <= 3
    ORDER BY doc_id, rn
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per (doc, token) × inverse document
    frequency over the WHOLE corpus, top-3 terms per document (first 50
    docs shown).  Two grouped aggregations build tf and df; df is
    |vocabulary|-sized — unbounded on a web-scale corpus — so the tf⋈df
    join carries NO broadcast hint (AQE converts it when df is actually
    small; a 100 TB run shuffle-joins on the token key both sides already
    hash on).  Only the 1-row corpus count is force-broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    docfreq = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(docfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.filter(F.col("doc_id") < 50)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .orderBy("doc_id", "rn")
    )


@query(
    "text_repetition_filter",
    oracle="""
    WITH grams AS (
      SELECT doc_id, source, w[i] || ' ' || w[i+1] AS g
      FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
            FROM documents),
           UNNEST(range(1, len(w))) AS t(i)
    ), per_gram AS (
      SELECT doc_id, source, g, COUNT(*) AS c
      FROM grams GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, source,
             SUM(c) AS n, COUNT(*) AS d, MAX(c) AS m
      FROM per_gram GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_grams,
           CAST(SUM(n - d) AS DOUBLE) / SUM(n) AS dup_gram_frac,
           CAST(SUM(CASE WHEN (n - d) * 10 > n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN m * 5 > n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_topheavy
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (the Gopher/C4 rule family):
    per document, the fraction of word-bigrams that are duplicates and
    the share of the single most-frequent bigram; documents above the
    thresholds (>10% duplicate bigrams / top bigram >20%) are flagged
    for drop.  Per-source summary so the result stays small.

    Parity rules: all per-doc metrics stay INTEGER (gram counts) and the
    thresholds are integer cross-multiplies; the only division is one
    bigint ratio per source, so no float accumulation order can diverge
    between engines.  Scale: the documents shuffle once, hashed on
    doc_id, and every bigram of a document is then counted inside the
    partition that holds it — the (doc, gram) and per-doc aggregates
    both read that partitioning, so the gram explosion is never
    shuffled; only the source-sized reduction moves rows again.  The
    hash repartition also fans a single-split scan out across cores."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = docs.repartition("doc_id").select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("w")
    )
    grams = word_kgrams(w, "w", 2)
    per_gram = grams.groupBy("doc_id", "source", "g").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"), F.count("*").alias("d"), F.max("c").alias("m")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_grams"),
            (
                F.sum(F.col("n") - F.col("d")).cast("double") / F.sum("n")
            ).alias("dup_gram_frac"),
            F.sum(F.when((F.col("n") - F.col("d")) * 10 > F.col("n"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(F.col("m") * 5 > F.col("n"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_topheavy"),
        )
        .orderBy("source")
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id, source,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
            FROM documents),
           UNNEST(range(1, len(w) - 1)) AS t(i)
    ), firstocc AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    ), per_doc AS (
      SELECT gr.doc_id, gr.source,
             COUNT(*) AS n,
             SUM(CASE WHEN f.first_doc < gr.doc_id THEN 1 ELSE 0 END) AS s
      FROM grams gr JOIN firstocc f ON gr.g = f.g
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_grams,
           CAST(SUM(s) AS BIGINT) AS n_stale,
           CAST(SUM(s) AS DOUBLE) / SUM(n) AS stale_frac,
           CAST(SUM(CASE WHEN 2 * s > n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring novelty (the shuffle-friendly approximation of
    suffix-array dedup from "Deduplicating Training Data Makes Language
    Models Better"): a document's word-trigram is STALE if any
    earlier-ingested document (smaller doc_id) already contains it; docs
    where most trigrams are stale are flagged as near-copies of prior
    data.  Per-source rollup keeps the result small.

    Scale shape: distinct (doc, gram) pairs shuffle once on the gram key
    and a window min finds each gram's first-occurrence doc_id in place —
    ONE lineage, no self-join (the join formulation recomputes the gram
    explosion for both sides and measured 4× slower), no pairwise
    comparison anywhere (the suffix-array algorithm is inherently
    sequential; min-over-key is its order-free relational core).  Parity:
    every per-doc metric is an integer count and the drop flag is the
    integer cross-multiply 2*stale > total, so the single double division
    per source is the only float op."""
    docs = load_table_compute(spark, sf_dir, "documents")
    w = docs.select("doc_id", "source", F.split(F.lower("text"), " ").alias("w"))
    grams = word_kgrams(w, "w", 3).distinct()
    first_doc = F.min("doc_id").over(Window.partitionBy("g"))
    per_doc = (
        grams.withColumn("first_doc", first_doc)
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("s"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_grams"),
            F.sum("s").cast("bigint").alias("n_stale"),
            (F.sum("s").cast("double") / F.sum("n")).alias("stale_frac"),
            F.sum(F.when(2 * F.col("s") > F.col("n"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@query(
    "text_lm_surprisal",
    oracle="""
    WITH grams AS (
      SELECT doc_id, source, w[i] || ' ' || w[i+1] AS g
      FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
            FROM documents),
           UNNEST(range(1, len(w))) AS t(i)
    ), bi AS (
      SELECT g, COUNT(*) AS cg FROM grams GROUP BY g
    ), uni AS (
      SELECT split_part(g, ' ', 1) AS w1, SUM(cg) AS cw
      FROM bi GROUP BY 1
    ), dict AS (
      SELECT g, CAST(FLOOR(LN(CAST(cg AS DOUBLE) / cw) * 1000000 + 0.5)
                     AS BIGINT) AS lp_micro
      FROM bi JOIN uni ON split_part(bi.g, ' ', 1) = uni.w1
    ), per_doc AS (
      SELECT gr.doc_id, gr.source,
             COUNT(*) AS n, -SUM(d.lp_micro) AS nll
      FROM grams gr JOIN dict d ON gr.g = d.g
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll) AS BIGINT) AS nll_micro,
           CAST(SUM(nll) AS DOUBLE) / (1000000.0 * SUM(n)) AS avg_nll,
           CAST(SUM(CASE WHEN nll > 3450000 * n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def text_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, CCNet-style: train a bigram LM
    on the corpus itself (P(w2|w1) = c(w1 w2)/c(w1 ·)), score every
    document by its average bigram negative log-likelihood, and flag
    outlier docs (avg NLL > 3.45 nats, the top ~5% tail on the fixture)
    whose word sequences the corpus LM
    finds improbable — the standard proxy for boilerplate/garbled text.

    Scale shape: the LM "training" is one grouped count over the bigram
    stream (vocab²-bounded), conditional totals reduce off the bigram
    counts (never rescan the corpus), and scoring is a join of the gram
    stream against the scored dictionary on the gram key.  Parity: each
    bigram's log-prob is fixed to integer micro-nats with the
    FLOOR(x*1e6+0.5) rounding shared by both engines (see
    embed_quantize_int8 for why not ROUND), so per-doc sums are exact
    integers, the flag threshold is an integer cross-multiply, and the
    one double division per source cannot drift."""
    docs = load_table_compute(spark, sf_dir, "documents")
    w = docs.select("doc_id", "source", F.split(F.lower("text"), " ").alias("w"))
    grams = word_kgrams(w, "w", 2)
    bi = grams.groupBy("g").agg(F.count("*").alias("cg"))
    w1 = F.split_part(F.col("g"), F.lit(" "), F.lit(1))
    uni = bi.groupBy(w1.alias("w1")).agg(F.sum("cg").alias("cw"))
    dict_ = bi.join(uni, w1 == uni.w1).select(
        "g",
        F.floor(
            F.log(F.col("cg").cast("double") / F.col("cw")) * 1000000 + 0.5
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    per_doc = (
        grams.join(dict_, "g")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n"), (-F.sum("lp_micro")).alias("nll"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.sum("nll").cast("bigint").alias("nll_micro"),
            (F.sum("nll").cast("double") / (F.lit(1000000.0) * F.sum("n"))).alias(
                "avg_nll"
            ),
            F.sum(
                F.when(F.col("nll") > 3450000 * F.col("n"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@query(
    "text_domain_blocklist",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             'cdn' || CAST(doc_id % 7 AS VARCHAR)
               || '.site' || CAST(doc_id % 23 AS VARCHAR)
               || CASE doc_id % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                                  WHEN 2 THEN '.net' ELSE '.io' END AS host
      FROM documents
    ), bl(s) AS (
      VALUES ('site3.org'), ('site5.com'), ('cdn2.site7.net'), ('site19.io')
    ), suf AS (
      SELECT doc_id, host,
             list_transform(range(1, len(string_split(host, '.'))),
               i -> array_to_string(
                 list_slice(string_split(host, '.'), i,
                            len(string_split(host, '.'))), '.')) AS chain
      FROM d
    ), bll AS (SELECT list(s) AS ss FROM bl)
    SELECT doc_id, host,
           len(list_intersect(chain, ss)) > 0 AS blocked
    FROM suf, bll
    ORDER BY doc_id
    """,
)
def text_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering with SUFFIX-CHAIN matching: a host is
    blocked if the blocklist contains the host itself or any registrable
    suffix of it (sub.cdn2.site7.net matches a cdn2.site7.net entry) —
    the URL-filtering pass every web-corpus pipeline runs (hosts are
    synthesized deterministically from doc_id; the fixture has no URL
    column).

    Scale shape: each host explodes into its ≤ L suffixes (L = label
    count, bounded by hostname syntax) and equi-joins the blocklist on
    the suffix — a broadcast/shuffle HASH join independent of blocklist
    size, instead of the O(rows × blocklist) LIKE-scan a naive filter
    runs.  The left join + max-aggregation keeps unblocked hosts in the
    output with blocked = false, so the pass is auditable (firing rates
    per rule) rather than silently dropping rows."""
    docs = load_table(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("cdn"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".site"), (F.col("doc_id") % 23).cast("string"),
        F.element_at(
            F.array(F.lit(".com"), F.lit(".org"), F.lit(".net"), F.lit(".io")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
    )
    # JVM-side literal relation (createDataFrame would round-trip a
    # Python RDD for four rows)
    blocklist = spark.range(1).select(
        F.explode(
            F.array(
                F.lit("site3.org"), F.lit("site5.com"),
                F.lit("cdn2.site7.net"), F.lit("site19.io"),
            )
        ).alias("s")
    )
    hosts = docs.select("doc_id", host.alias("host")).withColumn(
        "chain",
        F.expr(
            "transform(sequence(1, size(split(host, '\\\\.')) - 1), "
            "i -> array_join(slice(split(host, '\\\\.'), i, "
            "size(split(host, '\\\\.')) - i + 1), '.'))"
        ),
    )
    exploded = hosts.select("doc_id", "host", F.explode("chain").alias("suffix"))
    return (
        exploded.join(F.broadcast(blocklist), exploded.suffix == blocklist.s, "left")
        .groupBy("doc_id", "host")
        .agg(F.max(F.col("s").isNotNull()).alias("blocked"))
        .orderBy("doc_id")
    )


@query(
    "text_quality_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), b AS (
      SELECT doc_id,
             CAST(('0x' || md5(tok)[1:8]) AS BIGINT) % 64 AS bucket
      FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM((bucket * 7) % 13 - 6) AS BIGINT) AS score,
           SUM((bucket * 7) % 13 - 6) > 0 AS keep
    FROM b
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier, distributed: hash every
    token into a 64-bucket feature space (first 8 hex digits of md5 —
    the same hash both engines can compute), score each document as the
    sum of per-bucket weights, keep = score > 0.  This is the inference
    shape of the quality filters real pipelines train on
    wiki-vs-crawl labels (fastText / DCLM-style): feature hashing, a
    broadcast-sized weight vector, one pass over the corpus.

    The weight vector is a pure function of the bucket index (integer
    LCG-ish (b*7) % 13 - 6), so the score is exact integer arithmetic —
    no float model weights to diverge cross-engine.  Plan: explode →
    map-side partial sum → one shuffle keyed by doc_id.  At 100 TB a
    learned float weight vector broadcasts the same way; only the
    weights change, not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    bucket = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint") % 64
    weight = (bucket * 7) % 13 - 6
    return (
        toks.select("doc_id", weight.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum("w").cast("bigint").alias("score"),
        )
        .withColumn("keep", F.col("score") > 0)
        .orderBy("doc_id")
    )
