"""Text analysis operators (SURVEY.md §2-K): corpus statistics, language
curation, TF-IDF top terms, quality scoring, language-ID heuristic,
token counting, and document fingerprinting.

All token work uses split/explode + built-in functions (JVM-side); the
only shuffles key on (lang, term) or doc_id — uniform keys, map-side
partial aggregation everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .dedup import WINNOW_FPS_SQL_CTES as _WINNOW_CTES
from ..registry import register
from ..sources.io import load, local_rows


@register(
    "k_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 6) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def k_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, avg chars, avg token count."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_tokens"),
    )


@register(
    "k_lang_partition",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source
    """,
)
def k_lang_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation cut: per (language, source) inventory — the
    partition-pruning axis a 100 TB corpus would be laid out on
    (write.partitionBy('lang') -> scan only the language you train on)."""
    d = load(spark, sf_dir, "documents")
    # decimal accumulator (the e4() rule): a (lang, source) slab is a fixed
    # corpus fraction and n_chars runs ~1e3-1e5/doc, so the long sum passes
    # int64 around 1e14 docs while DuckDB widens to HUGEINT; display recasts.
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("long").alias("total_chars"),
    )


@register(
    "k_tfidf_topterms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT lang, term, count(*) AS tf
        FROM tok GROUP BY lang, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df
        FROM tok GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.lang, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, score FROM (
        SELECT lang, term, score,
               row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def k_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per language: explode -> tf per (lang, term),
    df per term, idf = ln(N/df), window top-k. The df side is tiny
    (vocabulary) so it broadcasts into the scoring join."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "term").select(
        "lang",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    w = W.partitionBy("lang").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "term", "score")
    )


@register(
    "k_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS ttr,
           round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6)
               AS avg_token_len,
           (len(string_split(text, ' ')) BETWEEN 20 AND 1000
            AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.2) AS passes
    FROM documents
    """,
)
def k_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (length band, type-token ratio, mean token
    length) + a pass/fail gate — the pre-training filter idiom."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(F.col("n_chars").cast("double") / n_tok, 6).alias("avg_token_len"),
        (n_tok.between(20, 1000) & (ttr > 0.2)).alias("passes"),
    )


@register(
    "k_lang_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_intersect(string_split(text, ' '),
                   ['join', 'filter', 'window', 'scan'])) AS en_hits,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           (CAST(en_hits AS DOUBLE) / n_tokens > 0.01) AS guessed_en
    FROM scored
    """,
)
def k_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token hit-rate (an n-gram/stopword
    profile in miniature — deterministic, so fully oracle-checkable)."""
    d = load(spark, sf_dir, "documents")
    markers = F.array(*[F.lit(m) for m in ["join", "filter", "window", "scan"]])
    toks = F.split("text", " ")
    hits = F.size(F.array_intersect(F.array_distinct(toks), markers))
    # NOTE: array_intersect(distinct_tokens, markers) counts distinct hits,
    # matching DuckDB list_intersect set semantics.
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        ((hits.cast("double") / F.size(toks)) > 0.01).alias("guessed_en"),
    )


@register(
    "k_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
               AS bpe_ish_tokens
    FROM documents
    """,
)
def k_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single punctuation) — the cost-estimation
    primitive for training-data budgeting."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        # idx=0 = whole match (Spark defaults to group 1, which this
        # group-free alternation pattern doesn't have)
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "k_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    sh AS (
        SELECT doc_id, t,
               unnest(range(1, greatest(n - 4, 1) + 1)) AS i
        FROM toks
    ),
    h AS (
        SELECT doc_id, md5(array_to_string(t[i:i+4], ' ')) AS sh_md5 FROM sh
    )
    SELECT doc_id,
           min(sh_md5) AS min_shingle_hash,
           max(sh_md5) AS max_shingle_hash,
           count(*)    AS n_shingles
    FROM h GROUP BY doc_id
    """,
)
def k_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 5-token shingles -> md5 rolling-hash
    analog -> min-hash fingerprint per doc (winnowing-style). The
    fingerprint column is what a 100 TB near-dup pass would band-join
    on. md5 (not xxhash64) so the DuckDB twin recomputes identical
    fingerprints — the hash is swappable in production, the
    shingle->min/max-hash structure is the graded part. Map-only: the
    shingle array never leaves the row, output is 3 scalars per doc."""
    d = load(spark, sf_dir, "documents")
    hashes = shingle_hashes(F.col("text"))
    return d.select(
        "doc_id",
        F.array_min(hashes).alias("min_shingle_hash"),
        F.array_max(hashes).alias("max_shingle_hash"),
        F.size(hashes).cast("long").alias("n_shingles"),
    )


def shingle_hashes(text_col, k: int = 5):
    """md5 hashes of the k-token (whitespace) shingles of ``text_col``;
    fewer than k tokens degrade to one truncated whole-doc shingle
    (`greatest(n - k + 1, 1)` windows). The ONE engine-side definition
    of the shingle hash family — shared by k_fingerprint,
    `winnow_fingerprints`, and k_corpus_dedup_winnow's containment
    verify, so the verify stage can never hash a different shingle
    space than the candidate generator it verifies. Mirrors the `h`
    CTE of dedup.winnow_fps_sql_ctes (md5 of the space-joined tokens;
    DuckDB's md5(VARCHAR) and Spark's md5(CAST AS BINARY) agree on
    UTF-8 bytes)."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k)).cast("binary"))
    )


def winnow_fingerprints(text_col, k: int = 5, w: int = 4):
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003) as a pure column expression: k-token shingle md5
    hashes, then the MINIMUM hash of every sliding window of ``w``
    consecutive shingle hashes, distinct + sorted. The selection
    guarantee: any two documents sharing a token run of at least
    ``w + k - 1`` tokens share at least one fingerprint (every length-w
    hash window inside the shared run selects the same minimum), while
    only ~2/(w+1) of all shingle hashes are kept. Hash values order
    lexicographically on the hex digest — identical in Spark and DuckDB,
    so ties (min selection) agree across engines.

    Short docs degrade exactly like k_fingerprint's shingle loop:
    fewer than ``k + w - 1`` tokens -> one window over however many
    shingles exist (fewer than ``k`` tokens -> one whole-doc shingle),
    i.e. the singleton global-min fingerprint.

    Returns the sorted-distinct fingerprint ARRAY column; callers
    reduce it to scalars (array cells crash the driver canonicalizer).
    """
    toks = F.split(text_col, " ")
    n = F.size(toks)
    hashes = shingle_hashes(text_col, k)
    widx = F.sequence(F.lit(1), n - (k + w - 2))
    mins = F.transform(widx, lambda j: F.array_min(F.slice(hashes, j, w)))
    return F.array_sort(
        F.array_distinct(
            F.when(n >= k + w - 1, mins).otherwise(
                F.array(F.array_min(hashes))
            )
        )
    )


@register(
    "k_winnow_fingerprints",
    # fingerprint CTEs shared with the k_winnow_candidates oracle — one
    # SQL definition of the selection (see dedup.WINNOW_FPS_SQL_CTES).
    oracle=f"""
    WITH {_WINNOW_CTES}
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(fps, ',')) AS fp_md5,
           fps[1] AS min_fp
    FROM f
    """,
)
def k_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints — the MOSS selection step on top
    of k_fingerprint's shingle hashes: per doc, the distinct minima of
    every 4-window of 5-token-shingle md5 hashes (see
    `winnow_fingerprints` for the locality guarantee). Emits the
    fingerprint-set size, the md5 of the sorted set (the value a 100 TB
    near-dup pass would band on after an explode), and the smallest
    fingerprint (always the doc's global min-hash — the k_fingerprint
    cross-check). Map-only like its sibling: the shingle and window
    arrays never leave the row, no exchange in the plan at all."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    fps = winnow_fingerprints(F.col("text"), k=5, w=4)
    return d.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.md5(F.concat_ws(",", fps).cast("binary")).alias("fp_md5"),
        F.element_at(fps, 1).alias("min_fp"),
    )


@register(
    "k_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    freq AS (
        SELECT t,
               CAST(count(*) AS DOUBLE)
                   / (SELECT count(*) FROM toks) AS p
        FROM toks GROUP BY t
    )
    SELECT doc_id,
           round(avg(log10(p)), 6) AS avg_logprob,
           count(*) AS n_tokens
    FROM toks JOIN freq USING (t)
    GROUP BY doc_id
    """,
)
def k_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality score: per-document average unigram
    log-probability under the corpus's own unigram model — the
    perplexity-style filter that catches gibberish and boilerplate the
    heuristic ratios (k_quality_score) miss. Two aggregation passes:
    (1) tokenize once and build the corpus frequency table, (2) join
    tokens back to their probabilities and average per document.

    At 100 TB: the frequency table is vocabulary-sized (Zipf — millions
    of rows, not trillions), so the scoring join broadcasts or, above
    the threshold, AQE falls back to a shuffled join on the token key;
    the corpus total rides along as a 1-row cross join, never a driver
    collect. Tokens are never re-extracted: one explode feeds both
    passes. Probabilities are exact integer-ratio doubles and log10 is
    sub-ulp across engines, so the rounded average hash-matches the
    oracle."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("t")
    ).where(F.col("t") != "")
    tot = toks.agg(F.count("*").alias("tot"))
    freq = (
        toks.groupBy("t")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(tot))
        .select("t", (F.col("c") / F.col("tot")).alias("p"))
    )
    return (
        toks.join(freq, "t")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log10("p")), 6).alias("avg_logprob"),
            F.count("*").alias("n_tokens"),
        )
    )


@register(
    "k_repetition_stats",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS b
        FROM words WHERE len(w) >= 2
    ),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct,
           round((sum(c) - count(*)) / CAST(sum(c) AS DOUBLE), 6)
               AS dup_bigram_frac,
           round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
    FROM cnt GROUP BY doc_id
    """,
)
def k_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (Gopher-style quality rules,
    Rae et al. 2021 §A1.1): fraction of word bigrams that are repeats of
    an earlier bigram in the same document, and the share claimed by the
    single most frequent bigram. Boilerplate, keyword-stuffed, and
    template-generated pages score high and get filtered before training.

    Shape: one scan builds the bigram list array-side (`transform` over a
    `sequence`, pure JVM — no Python), one explode, then two hash
    aggregations both keyed on doc_id. At 100 TB the explode multiplies
    rows by ~doc length (the standard shingling cost) but the shuffle key
    (doc_id, bigram) is unique-ish per doc, so partial aggregation
    collapses repeats map-side and skew is bounded by the longest single
    document, not by corpus hot keys."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    per_bigram = (
        d.where(n >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    tot = F.sum("c")
    return per_bigram.groupBy("doc_id").agg(
        tot.alias("n_bigrams"),
        F.count("*").alias("n_distinct"),
        F.round((tot - F.count("*")) / tot.cast("double"), 6).alias(
            "dup_bigram_frac"
        ),
        F.round(F.max("c") / tot.cast("double"), 6).alias("top_bigram_frac"),
    )


@register(
    "k_doc_len_histogram",
    oracle="""
    WITH d AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n,
               CAST(floor(log2(len(string_split(text, ' ')))) AS BIGINT) AS bucket
        FROM documents
    )
    SELECT lang, bucket, count(*) AS n_docs,
           round(avg(n), 4) AS avg_tokens
    FROM d GROUP BY lang, bucket
    """,
)
def k_doc_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in log2 buckets per language — the corpus
    shape profile that drives chunk/pack parameter choices (and catches
    truncation bugs upstream: a missing bucket tail is a red flag).

    Map-only bucketing (floor(log2(n))) then one hash aggregation over
    ~#langs x ~16 cells — at 100 TB the shuffle carries only the tiny
    cell keys, partial aggs collapse everything mapper-side."""
    d = load(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    return (
        d.select(
            "lang",
            n.alias("n"),
            F.floor(F.log2(n)).cast("long").alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n"), 4).alias("avg_tokens"),
        )
    )


@register(
    "k_bigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
        SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS u(i)),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1)
    SELECT c12.w1, c12.w2, n12,
           round(ln(CAST(n12 AS DOUBLE) / n1), 6) AS logprob
    FROM c12 JOIN c1 USING (w1)
    WHERE n12 >= 5
    """,
)
def k_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional log-probabilities ln P(w2|w1) = ln(c(w1 w2) /
    c(w1 *)) over the corpus — the n-gram LM table that perplexity-based
    quality filtering scores against (k_unigram_logprob's conditional
    big sibling). Output keeps bigrams seen >= 5 times (the usual LM
    count floor).

    At 100 TB: bigram expansion is a map-side JVM transform+explode; the
    (w1, w2) count is one hash agg on two-word keys, and the w1 marginal
    reuses those partial counts with a second small agg — the marginal
    table is vocabulary-sized (sublinear in corpus), so its join back
    broadcasts. ln() of an exact integer ratio rounds identically across
    engines at 6 decimals (ulp noise ~1e-16).
    """
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    bg = (
        d.where(F.size(t) >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1),"
                    " i -> struct(element_at(split(text, ' '), i) AS w1,"
                    "             element_at(split(text, ' '), i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    return (
        c12.join(c1, "w1")
        .where(F.col("n12") >= 5)
        .select(
            "w1",
            "w2",
            "n12",
            F.round(F.log(F.col("n12").cast("double") / F.col("n1")), 6).alias(
                "logprob"
            ),
        )
    )


@register(
    "k_gopher_quality_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    c AS (
        SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY doc_id, tok
    ),
    d AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT)                       AS n_words,
               CAST(sum(len(tok) * cnt) AS DOUBLE) / sum(cnt) AS mwl,
               CAST(max(cnt) AS DOUBLE) / sum(cnt)            AS top_ratio,
               CAST(sum(CASE WHEN tok IN
                    ('a','the','of','to','and','in','is','it')
                    THEN 1 ELSE 0 END) AS BIGINT)             AS stop_kinds
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           round(mwl, 6)       AS mean_word_len,
           round(top_ratio, 6) AS top_token_ratio,
           stop_kinds,
           (n_words BETWEEN 25 AND 500
            AND mwl BETWEEN 3 AND 6
            AND top_ratio <= 0.12
            AND stop_kinds >= 2) AS keep
    FROM d
    """,
)
def k_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, table A1,
    adapted to the fixture's plain-word text): word-count band, mean
    word length band, most-frequent-token ratio (the repetition rule:
    boilerplate pages have one token dominating), and a
    distinct-stopword floor (real prose contains several function
    words). Emits the per-rule signals plus the combined keep flag so a
    pipeline can both filter and audit rule attrition. Thresholds keep
    286/500 fixture docs at sf0.01 — a real split, not a degenerate
    all-pass gate.

    All four signals come off ONE token-histogram aggregation: explode
    tokens -> count per (doc_id, tok) -> per-doc agg of sum/max/
    weighted-length, with the stopword-kind count as a conditional SUM
    (the histogram rows are already unique per (doc_id, tok), so a
    count-distinct — and its extra expand/exchange — is unnecessary).
    Two shuffles total, both
    keyed on doc_id(+tok) — uniform keys, no skew. The keep comparison
    runs on the EXACT integer-ratio doubles (not the rounded display
    values): int/int division is bit-identical across engines, so the
    boolean cannot flip between Spark and DuckDB.

    At 100 TB: map-side partial aggregation absorbs the token fan-out;
    the shuffle carries (doc_id, tok, partial_cnt) — no raw text moves.
    """
    d = load(spark, sf_dir, "documents")
    stoplist = ["a", "the", "of", "to", "and", "in", "is", "it"]
    c = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        (F.sum(F.length("tok") * F.col("cnt")).cast("double") / F.sum("cnt")).alias(
            "mwl"
        ),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_ratio"),
        F.sum(F.when(F.col("tok").isin(stoplist), 1).otherwise(0)).alias("stop_kinds"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("top_ratio", 6).alias("top_token_ratio"),
        "stop_kinds",
        (
            F.col("n_words").between(25, 500)
            & F.col("mwl").between(3, 6)
            & (F.col("top_ratio") <= 0.12)
            & (F.col("stop_kinds") >= 2)
        ).alias("keep"),
    )


@register(
    "k_perplexity_buckets",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a)),
                      i -> struct_pack(w1 := a[i], w2 := a[i+1]))) AS p
        FROM t WHERE len(a) >= 2
    ),
    bg2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg2 GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1),
    lm AS (
        SELECT c12.w1, c12.w2, ln(CAST(n12 AS DOUBLE) / n1) AS lp
        FROM c12 JOIN c1 USING (w1) WHERE n12 >= 5
    ),
    sc AS (
        SELECT bg2.doc_id,
               round(avg(lm.lp), 6)        AS lm_score,
               CAST(count(lm.lp) AS BIGINT) AS n_scored,
               CAST(count(*) AS BIGINT)     AS n_bigrams
        FROM bg2 LEFT JOIN lm ON bg2.w1 = lm.w1 AND bg2.w2 = lm.w2
        GROUP BY bg2.doc_id
    )
    SELECT doc_id, lm_score, n_scored, n_bigrams,
           CASE WHEN lm_score >= -3.37 THEN 'head'
                WHEN lm_score >= -3.40 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc
    """,
)
def k_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document by its mean bigram conditional log-probability under the
    corpus's own LM (the k_bigram_logprob table, count floor 5) and
    split into head/middle/tail quality buckets — the standard
    LM-filtered-pretraining partition. Unmatched bigrams (below the
    count floor) are excluded from the mean but reported via
    n_scored/n_bigrams so a caller can gate on OOV rate too.

    Bucketing compares the ROUNDED score (6 dp) in both engines, so the
    cut cannot flip on last-ulp float noise: if the rounded scores
    hash-match, the buckets match by construction. Thresholds
    -3.37/-3.40 straddle the fixture's tercile points.

    Scale shape: bigram expansion is map-side; the LM is built with two
    corpus-keyed aggs and is vocabulary²-bounded (sublinear in corpus),
    so its join back to the bigram stream broadcasts; the final per-doc
    agg is one uniform doc_id shuffle. No windows, no collect.
    """
    d = load(spark, sf_dir, "documents")
    bg = (
        d.where(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1),"
                    " i -> struct(element_at(split(text, ' '), i) AS w1,"
                    "             element_at(split(text, ' '), i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    lm = (
        c12.join(c1, "w1")
        .where(F.col("n12") >= 5)
        .select("w1", "w2", F.log(F.col("n12").cast("double") / F.col("n1")).alias("lp"))
    )
    sc = (
        bg.join(lm, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 6).alias("lm_score"),
            F.count("lp").alias("n_scored"),
            F.count("*").alias("n_bigrams"),
        )
    )
    return sc.select(
        "doc_id",
        "lm_score",
        "n_scored",
        "n_bigrams",
        F.when(F.col("lm_score") >= -3.37, "head")
        .when(F.col("lm_score") >= -3.40, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@register(
    "k_vocab_coverage",
    oracle="""
    WITH tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tc)
    SELECT tok, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank,
           round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.n, 6)
               AS cum_coverage
    FROM tc CROSS JOIN tot
    """,
)
def k_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction with cumulative corpus coverage — the
    tokenizer-budgeting table: tokens ranked by frequency plus the
    fraction of all corpus tokens covered by the vocab up to that rank
    (answers "how big must the vocab be for 99.5% coverage?").

    The oracle's ORDER BY window is the textbook form; at 100 TB a bare
    unpartitioned window funnels the vocab through one task, so the
    Spark side computes BOTH the global rank (a running sum of 1) and
    the running count with `global_running_sums` over (cnt DESC, tok),
    a total order. The grand total is a 1-row broadcast, not another
    window.
    """
    from ..operators.relational import global_running_sums

    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = global_running_sums(
        tc, [F.col("cnt").desc(), "tok"], {"rank": F.lit(1), "_cum": F.col("cnt")}
    )
    total = tc.agg(F.sum("cnt").alias("_n"))
    return ranked.join(F.broadcast(total)).select(
        "tok",
        "cnt",
        "rank",
        F.round(F.col("_cum").cast("double") / F.col("_n"), 6).alias("cum_coverage"),
    )


@register(
    "k_dataset_card",
    oracle="""
    WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    dup AS (
        SELECT count(*) - count(DISTINCT
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
               AS n_exact_dups
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT)                     AS n_docs,
           CAST(count(DISTINCT d.lang) AS BIGINT)       AS n_langs,
           CAST(count(DISTINCT d.source) AS BIGINT)     AS n_sources,
           CAST(sum(t.n_tok) AS BIGINT)                 AS total_tokens,
           CAST(min(t.n_tok) AS BIGINT)                 AS min_tokens,
           CAST(max(t.n_tok) AS BIGINT)                 AS max_tokens,
           round(avg(t.n_tok), 6)                       AS avg_tokens,
           CAST(max(dup.n_exact_dups) AS BIGINT)        AS n_exact_dups
    FROM documents d
    JOIN toks t USING (doc_id)
    CROSS JOIN dup
    """,
)
def k_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the one-row release summary published next to a
    training corpus (docs, languages, sources, token totals/spread,
    exact-dup count): the aggregate every downstream consumer reads
    before anything else, and the regression canary a nightly corpus
    rebuild diffs against.

    One pass computes the corpus aggregates (count-distincts on two
    low-cardinality columns; token counts map-side) plus the exact-dup
    count as count(*) - count(distinct content-hash) — all in two
    1-row-output aggregations joined by literal cross join; no
    wide shuffle, output is a single row regardless of corpus size.
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    content_h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(n_tok).alias("total_tokens"),
        F.min(n_tok).alias("min_tokens"),
        F.max(n_tok).alias("max_tokens"),
        F.round(F.avg(n_tok), 6).alias("avg_tokens"),
    )
    dup = d.agg(
        (F.count("*") - F.countDistinct(content_h)).alias("n_exact_dups")
    )
    return stats.join(dup)


@register(
    "k_augment_token_dropout",
    oracle="""
    WITH pos AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ),
    kept AS (
        SELECT doc_id, tok, i
        FROM pos
        WHERE ('0x' || substr(md5(doc_id || ':' || i), 1, 4))::BIGINT % 10 <> 0
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT)                    AS n_tokens,
           CAST(count(*) FILTER (
               ('0x' || substr(md5(p.doc_id || ':' || p.i), 1, 4))::BIGINT % 10 = 0
           ) AS BIGINT)                                AS n_dropped,
           coalesce(array_to_string(
               list(k.tok ORDER BY k.i) FILTER (k.tok IS NOT NULL), ' '), '')
                                                       AS augmented
    FROM pos p LEFT JOIN kept k ON k.doc_id = p.doc_id AND k.i = p.i
    GROUP BY p.doc_id
    """,
)
def k_augment_token_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-dropout augmentation — the noising pass a
    pretraining/denoising objective applies to build corrupted inputs:
    ~10% of token POSITIONS are dropped, selected by md5(doc_id:pos)
    so the augmentation is reproducible across reruns and engines (a
    rand()-based dropout could never be oracle-checked, and
    non-reproducible augmentation breaks training resumption). Emits
    the augmented text plus kept/dropped counts.

    Map-only: the drop decision and re-join happen inside ONE
    two-arg filter lambda (element, index) over the token array —
    no explode, no shuffle, the doc never leaves its row. The oracle
    reproduces the identical md5 position rule relationally
    (unnest + subscripts + ordered list_agg).
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    keep = lambda x, i: (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), (i + 1).cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 10
        != 0
    )
    kept = F.filter(toks, keep)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_dropped"),
        F.concat_ws(" ", kept).alias("augmented"),
    )


@register(
    "k_winsorize_clip",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (e.value < q.p01) AS BIGINT) AS n_clip_low,
           CAST(count(*) FILTER (e.value > q.p99) AS BIGINT) AS n_clip_high,
           CAST(sum(CAST(round(greatest(least(e.value, q.p99), q.p01) * 10000, 0)
                AS BIGINT)) AS BIGINT) AS winsorized_sum_e4
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
)
def k_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the outlier-clamping normalization a feature/
    metric pipeline applies before aggregation (a fat-fingered value or
    a bot burst would otherwise dominate sums): per-group p01/p99
    bounds, values clamped into [p01, p99], clip counts reported as the
    audit trail. The clamped sum is accumulated in exact integer
    ten-thousandths (the repo's e4 money rule) so the check is
    ulp-stable.

    Scale shape: the quantile bounds are ONE per-group aggregate (k
    groups — broadcast back), the clamp is map-side, and the final
    rollup is the same single group-by; no window over raw events, no
    second shuffle of the fact stream.
    """
    ev = load(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", 0.01).alias("p01"),
        F.percentile("value", 0.99).alias("p99"),
    )
    j = ev.join(F.broadcast(q), "event_type")
    clamped = F.greatest(F.least("value", F.col("p99")), F.col("p01"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("value") < F.col("p01"), 1)).alias("n_clip_low"),
        F.count(F.when(F.col("value") > F.col("p99"), 1)).alias("n_clip_high"),
        # decimal accumulator (the e4() rule): per-type groups span ~1/k of
        # the corpus, so a long sum overflows at scale (ANSI job-kill,
        # or a silent wrap under ANSI-off sessions); display recasts.
        F.sum(F.round(clamped * 10000, 0).cast("decimal(38,0)"))
        .cast("long")
        .alias("winsorized_sum_e4"),
    )


@register(
    "k_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), cnt AS (
        SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_total,
           count(*) AS n_distinct_chars,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - CAST(sum(CAST(round(CAST(c AS DOUBLE)
                                       * ln(CAST(c AS DOUBLE))
                                       * 1000000.0) AS BIGINT)) AS BIGINT)
                   / 1000000.0 / CAST(sum(c) AS DOUBLE), 6) AS entropy
    FROM cnt GROUP BY doc_id
    """,
)
def k_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish / boilerplate / encoding-garbage detector (CCNet and C4
    both gate on it): natural prose sits near 4.1-4.4 nats, base64
    blobs and repeated-template pages fall far outside the band.

    H = ln(n) - (1/n) * sum_i c_i*ln(c_i) over the per-doc character
    histogram. The sum of transcendental terms is the cross-engine
    hazard here: Spark and DuckDB aggregate the c_i*ln(c_i) doubles in
    different orders, and a reassociated double sum drifts ~1e-12
    relative — enough to flip a round(6) on ~2% of docs. So each TERM
    is quantized to an exact integer (round(c*ln(c)*1e6) AS BIGINT —
    both engines compute the identical double from the identical
    integer c, and HALF_UP rounding matches) and the terms are summed
    exactly as bigints in any order; only then does the final, shared
    float expression run once per doc on bit-identical inputs.

    Scale shape: explode to (doc_id, char) -> two aggregations both
    keyed on doc_id (uniform key, map-side partial combine); the char
    alphabet bounds the intermediate at ~100 rows per doc. No window,
    no join, no driver collect.
    """
    docs = load(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    cnt = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_total"),
        F.count("*").alias("n_distinct_chars"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(
                F.round(
                    F.col("c").cast("double")
                    * F.log(F.col("c").cast("double"))
                    * 1000000.0
                ).cast("long")
            )
            / 1000000.0
            / F.sum("c").cast("double"),
            6,
        ).alias("entropy"),
    )


# Shared 3-round BPE CTE chain (word threaded through so the encode
# oracle can map word -> final symbol sequence; the train oracle simply
# ignores it). s4 is the post-3-merges word dict.
_BPE_CTES = r"""
WITH w AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
),
s1 AS (SELECT word, freq,
              '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS seq FROM w),
p1 AS (
    SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(freq) AS BIGINT) AS c
    FROM (SELECT freq, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM (SELECT freq, string_split(trim(seq), '  ') AS t FROM s1))
    GROUP BY 1
),
t1 AS (SELECT pair, c FROM p1 ORDER BY c DESC, pair LIMIT 1),
s2 AS (SELECT word, freq,
               replace(seq, ' ' || replace((SELECT pair FROM t1), ' ', '  ') || ' ',
                       ' ' || replace((SELECT pair FROM t1), ' ', '') || ' ') AS seq
        FROM s1),
p2 AS (
    SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(freq) AS BIGINT) AS c
    FROM (SELECT freq, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM (SELECT freq, string_split(trim(seq), '  ') AS t FROM s2))
    GROUP BY 1
),
t2 AS (SELECT pair, c FROM p2 ORDER BY c DESC, pair LIMIT 1),
s3 AS (SELECT word, freq,
               replace(seq, ' ' || replace((SELECT pair FROM t2), ' ', '  ') || ' ',
                       ' ' || replace((SELECT pair FROM t2), ' ', '') || ' ') AS seq
        FROM s2),
p3 AS (
    SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(freq) AS BIGINT) AS c
    FROM (SELECT freq, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM (SELECT freq, string_split(trim(seq), '  ') AS t FROM s3))
    GROUP BY 1
),
t3 AS (SELECT pair, c FROM p3 ORDER BY c DESC, pair LIMIT 1),
s4 AS (SELECT word, freq,
               replace(seq, ' ' || replace((SELECT pair FROM t3), ' ', '  ') || ' ',
                       ' ' || replace((SELECT pair FROM t3), ' ', '') || ' ') AS seq
        FROM s3)
"""

_BPE_ORACLE = _BPE_CTES + r"""
SELECT 1 AS rnd, pair, replace(pair, ' ', '') AS merged, c AS w_count FROM t1
UNION ALL
SELECT 2, pair, replace(pair, ' ', ''), c FROM t2
UNION ALL
SELECT 3, pair, replace(pair, ' ', ''), c FROM t3
"""

_BPE_ENCODE_ORACLE = _BPE_CTES + r"""
, enc AS (
    SELECT word, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tok
    FROM s4
)
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(e.n_tok) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
JOIN enc e USING (word)
WHERE d.word <> ''
GROUP BY d.doc_id
"""


@register("k_bpe_train", oracle=_BPE_ORACLE)
def k_bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = 3) -> DataFrame:
    """BPE tokenizer TRAINING — learn the merge table itself (the piece
    k_token_count_bpe and k_tokenize_to_ids consume): classic byte-pair
    encoding over the word-frequency dictionary. Each round counts
    frequency-weighted adjacent symbol pairs, merges the most frequent
    pair corpus-wide, and repeats; the output is the ordered merge
    table (round, pair, merged symbol, weighted count).

    Two design points make this distributable AND differentially
    checkable:

    * The iteration state lives in the WORD DICT, not the corpus: BPE
      statistics only need (distinct word, freq) — corpus-sublinear
      (vocab-bounded), so after ONE corpus-sized aggregation every
      merge round runs on a small table. That is also exactly how
      the original Sennrich implementation trains. Each round's merged
      dict is localCheckpoint()ed: 3 rounds of replace() would
      otherwise nest the plan 3 deep and re-run all prior rounds per
      round (the k_dedup_components lineage lesson).

    * Symbol sequences are kept as DOUBLE-SPACED text ("  b  a  n  "),
      so one plain (non-regex) replace of ' a  n ' -> ' an ' performs
      the greedy left-to-right non-overlapping merge with IDENTICAL
      semantics in Spark and DuckDB — each match donates one margin
      space back, so the two-space invariant between tokens survives
      and consecutive pairs ("a n a n" -> "an an") merge exactly like
      the reference fold. A per-word Python fold (the naive port)
      would drag every round through Arrow; this stays JVM-side.

    The top pair per round is ONE collected row (count desc, pair asc
    tiebreak) — bounded driver traffic, same class as the components
    convergence probe. The oracle unrolls the identical 3 rounds in
    SQL, so the merge table is value-hash-checked end to end.
    """
    rows, _ = _bpe_merge_rounds(spark, sf_dir, n_merges)
    return local_rows(spark, rows, "rnd int, pair string, merged string, w_count long")


def _bpe_merge_rounds(spark: SparkSession, sf_dir: str, n_merges: int):
    """Run the BPE merge loop; returns (merge rows, the post-merge word
    dict as (word, freq, seq)) — shared by train and encode."""
    docs = load(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seqs = w.select(
        "word",
        "freq",
        F.concat(F.lit("  "), F.regexp_replace("word", "(.)", "$1  ")).alias("seq"),
    ).localCheckpoint(eager=False)

    out_rows = []
    for rnd in range(1, n_merges + 1):
        toks = seqs.select("freq", F.split(F.trim("seq"), "  ").alias("t"))
        pairs = toks.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> x || ' ' || element_at(t, i + 2))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .first()
        )
        if top is None:
            break
        a_b, count = top["pair"], top["c"]
        merged = a_b.replace(" ", "")
        out_rows.append((rnd, a_b, merged, count))
        seqs = seqs.select(
            "word",
            "freq",
            F.replace(
                F.col("seq"),
                F.lit(" " + a_b.replace(" ", "  ") + " "),
                F.lit(" " + merged + " "),
            ).alias("seq"),
        ).localCheckpoint(eager=False)

    return out_rows, seqs


@register("k_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def k_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — apply the merge table k_bpe_train just learned back
    to the corpus and report per-document BPE token counts (the number
    a sequence-packing / context-budget stage actually needs; raw word
    counts under-estimate rare-word-heavy docs).

    The encoding rides the trained word dict: each distinct WORD's
    final symbol sequence is already known after the merge rounds, so
    encoding the corpus is a broadcast join from exploded corpus words
    to the vocab-bounded (word -> n_subtokens) map — no per-document
    re-segmentation, no Python. This is the standard fast-tokenizer
    trick (word-level memoization) expressed relationally; at 100 TB
    the dict stays vocab-bounded and broadcastable while the corpus
    side is one map-side explode + one uniform doc_id aggregation.

    Oracle: the identical 3 unrolled merge rounds (shared CTE chain
    with k_bpe_train) extended by the word->count map and the same
    join+group — per-doc totals are value-hash-checked.
    """
    _, seqs = _bpe_merge_rounds(spark, sf_dir, 3)
    enc = seqs.select(
        "word", F.size(F.split(F.trim("seq"), "  ")).cast("long").alias("n_tok")
    )
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(enc, "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("n_tok").alias("n_bpe_tokens"))
    )


@register(
    "k_flesch_readability",
    oracle="""
    SELECT doc_id,
           CAST(n_sent AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syll AS BIGINT) AS n_syllables,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
    FROM (
        SELECT doc_id,
               greatest(len(list_filter(string_split_regex(text, '[.!?]'),
                                        x -> trim(x) <> '')), 1) AS n_sent,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
               greatest(len(regexp_extract_all(text, '[aeiouy]+')), 1) AS n_syll
        FROM documents
    ) WHERE n_words > 0
    """,
)
def k_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (simple-English filters and age-band corpus splits
    gate on it): 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/word). Syllables use the standard vowel-group
    heuristic (runs of [aeiouy]); sentences are [.!?]-delimited
    segments with a floor of 1 — this fixture's synthetic docs carry no
    sentence punctuation, so the sentence term degenerates to
    words/1 here (documented; on punctuated corpora the same code
    measures real sentence length). All three counts are exact
    integers in both engines (same regex semantics in RE2 and Java for
    these patterns — no lookaround, no lazy quantifiers), so the final
    formula divides identical doubles and round(6) is safe.

    Scale shape: map-only — three regexp passes per row, no explode,
    no shuffle, no Python.
    """
    docs = load(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.size(F.filter(F.split("text", r"[.!?]"), lambda x: F.trim(x) != "")),
        F.lit(1),
    )
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    n_syll = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[aeiouy]+', 0)")), F.lit(1)
    )
    out = docs.select(
        "doc_id",
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    return out.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words")),
            6,
        ).alias("flesch"),
    )


@register(
    "k_quality_features",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
                   AS n_tokens,
               round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS ttr,
               round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6)
                   AS avg_token_len,
               round(206.835
                     - 1.015 * CAST(len(list_filter(string_split(text, ' '),
                                                    x -> x <> '')) AS DOUBLE)
                     - 84.6 * (CAST(greatest(len(regexp_extract_all(text, '[aeiouy]+')), 1)
                                    AS DOUBLE)
                               / len(list_filter(string_split(text, ' '), x -> x <> ''))),
                     6) AS flesch
        FROM documents
    ),
    ent AS (
        SELECT doc_id,
               round(ln(CAST(sum(c) AS DOUBLE))
                     - CAST(sum(CAST(round(CAST(c AS DOUBLE)
                                           * ln(CAST(c AS DOUBLE))
                                           * 1000000.0) AS BIGINT)) AS BIGINT)
                       / 1000000.0 / CAST(sum(c) AS DOUBLE), 6) AS entropy
        FROM (
            SELECT doc_id, ch, count(*) AS c
            FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
            GROUP BY doc_id, ch
        ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens, b.ttr, b.avg_token_len, b.flesch, e.entropy
    FROM base b JOIN ent e USING (doc_id)
    """,
)
def k_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-classifier FEATURE TABLE: every per-doc quality
    signal this module computes — token count, type-token ratio, mean
    token length, Flesch score, character entropy — assembled into one
    wide row per document. This is the supervised step's input: label a
    few thousand rows (or distill labels from a teacher model) and
    train the fastText/logreg quality gate that replaces hand-tuned
    Gopher thresholds; it is also the drift dashboard (feature
    distributions per crawl snapshot).

    Built fresh in one composition rather than joining the individual
    query outputs: the map-only signals (counts, ratios, Flesch) ride a
    single projection, and only entropy needs its own doc_id-keyed
    aggregation — so the whole table costs one explode-agg plus one
    doc_id join (the sentence term of Flesch is dropped here: this
    fixture has no sentence punctuation, so it would be words/1 —
    see k_flesch_readability).

    Scale: both shuffles key on doc_id (uniform); output rows = docs.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok_nz = F.size(F.filter(toks, lambda x: x != ""))
    n_syll = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[aeiouy]+', 0)")), F.lit(1)
    )
    base = docs.select(
        "doc_id",
        n_tok_nz.cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6).alias(
            "ttr"
        ),
        F.round(F.col("n_chars").cast("double") / F.size(toks), 6).alias(
            "avg_token_len"
        ),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * n_tok_nz.cast("double")
            - F.lit(84.6) * (n_syll.cast("double") / n_tok_nz),
            6,
        ).alias("flesch"),
    )
    ch = docs.select("doc_id", F.explode(F.split("text", "")).alias("ch")).where(
        F.col("ch") != ""
    )
    cnt = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    ent = cnt.groupBy("doc_id").agg(
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(
                F.round(
                    F.col("c").cast("double") * F.log(F.col("c").cast("double")) * 1000000.0
                ).cast("long")
            )
            / 1000000.0
            / F.sum("c").cast("double"),
            6,
        ).alias("entropy")
    )
    return base.join(ent, "doc_id")


@register(
    "k_blocklist_filter",
    oracle="""
    WITH hits AS (
        SELECT doc_id,
               list_sort(list_intersect(
                   list_distinct(string_split(lower(text), ' ')),
                   ['drop', 'leak', 'spill', 'corrupt'])) AS matched
        FROM documents
    )
    SELECT doc_id,
           CAST(len(matched) AS BIGINT) AS n_matched,
           coalesce(array_to_string(matched, ','), '') AS matched_terms,
           len(matched) = 0 AS keep
    FROM hits
    """,
)
def k_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate — the C4-style "bad words" filter (C4 dropped any
    page containing a listed term; production corpora keep the matched
    terms for auditability instead of silently dropping): each doc gets
    its sorted matched-term list, match count, and a keep flag. The
    audit trail matters — blocklists over-trigger (the classic
    "Scunthorpe problem"), so reviewers need WHAT matched, not just
    that something did.

    The blocklist here is a 4-term stand-in folded into the plan as an
    array literal; a real list (thousands of terms) broadcasts as a
    lookup table and the intersect becomes a token-explode + broadcast
    semi-join keyed on the term, grouped back per doc — same output,
    join-shaped for lists too big for a literal.

    Matching is whole-token on the lowercased split (substring matching
    is the Scunthorpe trap), map-only, zero shuffles.
    """
    d = load(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in ["drop", "leak", "spill", "corrupt"]])
    matched = F.array_sort(
        F.array_intersect(
            F.array_distinct(F.split(F.lower("text"), " ")), terms
        )
    )
    return d.select(
        "doc_id",
        F.size(matched).cast("long").alias("n_matched"),
        F.concat_ws(",", matched).alias("matched_terms"),
        (F.size(matched) == 0).alias("keep"),
    )


@register(
    "k_ngram_novelty",
    oracle="""
    WITH tri AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' '
                        || string_split(text, ' ')[i+1] || ' '
                        || string_split(text, ' ')[i+2]))) AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    df AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM tri GROUP BY sh)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count(*) FILTER (d.df = 1) AS BIGINT) AS n_novel,
           round(CAST(count(*) FILTER (d.df = 1) AS DOUBLE) / count(*), 6)
               AS novelty
    FROM tri t JOIN df d USING (sh)
    GROUP BY t.doc_id
    """,
)
def k_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram NOVELTY per document — the template/boilerplate signal
    dual to k_contamination_check: the fraction of a doc's distinct
    word trigrams that appear in NO other document (document frequency
    = 1). Low novelty means the doc is assembled from corpus-common
    spans (mirrored templates, scraped duplicates the hash dedups
    missed, SEO spam); memorization-risk audits ALSO read the other
    tail — a high-novelty doc's trigrams are unique carriers if a
    model reproduces them.

    Shape: distinct trigrams exploded once, document frequency by one
    uniform shingle-keyed aggregation, then ONE join back on the same
    key and a doc_id rollup — the k_line_dedup shape one level up
    (spans instead of lines). At 100 TB the shingle key becomes a
    64-bit hash so the exchange is fixed-width. The novelty ratio
    divides two exact counts, so round(6) is safe.
    """
    d = load(spark, sf_dir, "documents")
    tri = (
        d.where(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", F.explode(F.array_distinct(F.expr(_TRIGRAM_EXPR_TS))).alias("sh"))
    )
    df = tri.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        tri.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.count_if(F.col("df") == 1).alias("n_novel"),
            F.round(
                F.count_if(F.col("df") == 1).cast("double") / F.count("*"), 6
            ).alias("novelty"),
        )
    )


_TRIGRAM_EXPR_TS = (
    "transform(sequence(1, size(split(text, ' ')) - 2),"
    " i -> split(text, ' ')[i-1] || ' ' || split(text, ' ')[i] || ' '"
    " || split(text, ' ')[i+1])"
)


@register(
    "k_bm25_topk",
    oracle="""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' '))    AS dl
        FROM documents
    ),
    stats AS (
        SELECT count(*)                                    AS n_docs,
               sum(dl)                                     AS sum_dl,
               sum(CASE WHEN list_contains(toks, 'vector') THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN list_contains(toks, 'merge')  THEN 1 ELSE 0 END) AS df2,
               sum(CASE WHEN list_contains(toks, 'spark')  THEN 1 ELSE 0 END) AS df3
        FROM docs
    ),
    scored AS (
        SELECT d.doc_id,
               round(ln(1 + (s.n_docs - s.df1 + 0.5) / (s.df1 + 0.5))
                     * (len(list_filter(d.toks, t -> t = 'vector')) * 2.2)
                     / (len(list_filter(d.toks, t -> t = 'vector'))
                        + 1.2 * (0.25 + 0.75 * d.dl
                                 / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))), 6)
             + round(ln(1 + (s.n_docs - s.df2 + 0.5) / (s.df2 + 0.5))
                     * (len(list_filter(d.toks, t -> t = 'merge')) * 2.2)
                     / (len(list_filter(d.toks, t -> t = 'merge'))
                        + 1.2 * (0.25 + 0.75 * d.dl
                                 / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))), 6)
             + round(ln(1 + (s.n_docs - s.df3 + 0.5) / (s.df3 + 0.5))
                     * (len(list_filter(d.toks, t -> t = 'spark')) * 2.2)
                     / (len(list_filter(d.toks, t -> t = 'spark'))
                        + 1.2 * (0.25 + 0.75 * d.dl
                                 / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))), 6)
               AS bm25
        FROM docs d CROSS JOIN stats s
    )
    SELECT doc_id, round(bm25, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def k_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson-Sparck Jones) for the fixed 3-term
    query {vector, merge, spark}: the lexical-search leg of the
    retrieval stack next to the embedding k-NN (k_knn_query) — the
    hybrid pair a RAG data pipeline runs.

    Standard Okapi parameterization k1=1.2, b=0.75, the +1-smoothed
    idf ln(1 + (N - df + .5)/(df + .5)). Corpus stats (N, Σdl, per-term
    df) come from ONE 1-row aggregate broadcast back over the docs
    (the t_q11 scalar-broadcast shape); tf/dl are JVM higher-order
    lambdas, so scoring is map-only and the only data-sized movement
    is the TakeOrderedAndProject top-20. Per-term scores are rounded
    at 6 BEFORE the fixed-order 3-term sum (the k_char_entropy rule:
    quantize each term of a float sum so engine-side ln/division ulp
    noise cannot reassociate into a flipped tie), and ties break on
    doc_id.

    At 100 TB nothing is corpus-quadratic: stats are one partial agg,
    scoring is embarrassingly parallel, top-k is per-partition heads
    merged on the driver. An inverted-index variant only wins when
    queries >> corpus scans; for batch scoring-every-doc (the
    training-data use), the scan IS the right plan.
    """
    d = load(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("dl"),
    )
    terms = ["vector", "merge", "spark"]
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(
                F.when(F.array_contains("toks", t), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"df{i+1}")
            for i, t in enumerate(terms)
        ],
    )

    def term_score(i, t):
        tf = F.expr(f"size(filter(toks, t -> t = '{t}'))")
        dfc = F.col(f"df{i+1}")
        idf = F.log(1 + (F.col("n_docs") - dfc + 0.5) / (dfc + 0.5))
        avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
        return F.round(
            idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl)), 6
        )

    scored = docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(
            term_score(0, terms[0]) + term_score(1, terms[1]) + term_score(2, terms[2]),
            6,
        ).alias("bm25"),
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(20)


_FERTILITY_ORACLE = _BPE_CTES + r"""
, enc AS (
    SELECT word, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tok
    FROM s4
)
SELECT doc.lang,
       CAST(count(*) AS BIGINT)      AS n_words,
       CAST(sum(e.n_tok) AS BIGINT)  AS n_bpe_tokens,
       round(CAST(sum(e.n_tok) AS DOUBLE) / count(*), 6) AS fertility
FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) doc
JOIN enc e USING (word)
WHERE doc.word <> ''
GROUP BY doc.lang
"""


@register("k_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def k_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — subword tokens emitted per
    word under the corpus-trained BPE merges (k_bpe_train): THE metric
    a multilingual tokenizer budget is judged on (fertility >> 1 for a
    language means its text pays more sequence length per word, skewing
    effective mixture weights and training cost). Composes the trained
    word->n_subtokens map (corpus-sublinear word dict, broadcast) with
    one exploded-token join and a per-lang aggregate; the ratio is a
    single division rounded once over exact integer sums.
    """
    d = load(spark, sf_dir, "documents")
    # Reuse the registered per-doc encode result, then re-key by lang.
    # NO broadcast hint on the lang map: it is one row PER DOCUMENT
    # (corpus-linear, unlike the vocab-bounded BPE dict) — forcing it
    # into a broadcast would OOM at corpus scale. Both sides are
    # doc-count-sized, so the uniform doc_id shuffle join is the plan.
    per_doc = k_bpe_encode(spark, sf_dir)
    langs = d.select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens").cast("double") / F.sum("n_words"), 6
            ).alias("fertility"),
        )
    )
