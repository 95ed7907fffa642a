"""Corpus sampling & splitting (SURVEY.md §2-K family extension).

Training-data pipelines need reproducible dataset carving: a train/eval
split that is a pure function of the row key (stable across reruns,
engines, and cluster sizes — never `rand()`), and stratified downsampling
to rebalance languages/sources. Both are embarrassingly parallel: no
shuffle at all, the predicate/sampler runs inside the scan stage, so they
cost a map pass at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import round_div_e4, sql_round_div_e4
from ..registry import register
from ..sources.io import load, local_rows


@register(
    "k_train_test_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
)
def k_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/eval split keyed on md5(doc_id): the
    first hex byte < 0xe6 (230/256 ≈ 89.8%) selects train. Hex-string
    comparison is engine-portable, so the assignment is reproducible
    bit-for-bit anywhere — the property `rand()`-based splits lose the
    moment partitioning changes. No shuffle; the label is computed in the
    scan stage and any downstream write can partition by it."""
    d = load(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.select(
        "doc_id",
        "lang",
        F.when(h2 < "e6", "train").otherwise("eval").alias("split"),
    )


@register("k_stratified_sample")
def k_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsampling via seeded `sampleBy`: per-language
    keep fractions rebalance a skewed corpus (the data-mixing step before
    training). Rows-only — Bernoulli sampling has no SQL oracle — with a
    property test bounding each stratum's realized fraction. Seeded, so a
    rerun reproduces the same sample on the same partitioning; for
    cross-engine reproducibility use the hash-predicate pattern of
    `k_train_test_split` instead. Map-only: the coin flip happens in the
    scan stage, no shuffle."""
    d = load(spark, sf_dir, "documents")
    # Driver-side collect is BOUNDED BY STRATUM CARDINALITY (languages:
    # dozens-to-hundreds at any corpus size), never by row count —
    # sampleBy requires a literal fraction map. The cap below turns an
    # accidental high-cardinality stratum column (e.g. a doc id) into a
    # loud error instead of a driver OOM.
    langs = [r["lang"] for r in d.select("lang").distinct().limit(10001).collect()]
    if len(langs) > 10000:
        raise ValueError(
            "stratum column 'lang' exceeds 10k distinct values; sampleBy "
            "fraction maps are driver-side literals — use a hash predicate"
        )
    fractions = {lang: 0.3 for lang in langs}
    return d.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


@register(
    "k_reservoir_per_group",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 50
    """,
)
def k_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample: exactly min(k, |group|) docs per
    language, ordered by a key hash instead of rand() — the reproducible
    stand-in for reservoir sampling. A hash order is rerun-safe (same
    input -> same sample, the reference's idempotency discipline),
    engine-portable (md5 agrees everywhere, so the oracle hash-matches),
    and at 100 TB it runs as one shuffle on the group key with a
    per-group top-k — no global sort and no stateful reservoir. Use the
    true rand()-reservoir only when the input is an unbounded stream;
    for corpus curation the hash order is strictly better because
    auditors can re-derive the sample."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


@register(
    "k_domain_mixture",
    oracle="""
    WITH quota AS (
        SELECT * FROM (VALUES
            ('src0', 20), ('src1', 20), ('src2', 20), ('src3', 20),
            ('src4', 5)
        ) AS q(source, n_keep)
    )
    SELECT doc_id, source FROM (
        SELECT d.doc_id, d.source, q.n_keep,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rn
        FROM documents d JOIN quota q USING (source)
    ) WHERE rn <= n_keep
    """,
)
def k_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: hit per-source document quotas (the
    data-mixing step that sets training mixture weights, à la The
    Pile / DoReMi). The quota table is a tiny dimension — broadcast-join
    it to the corpus, then keep the first n_keep docs per source in
    md5(key) order. Hash order makes the mixture a pure function of the
    input (rerun-safe, engine-portable, auditable) where a rand() sample
    is not.

    At 100 TB: the quota join is a broadcast (a handful of rows). The
    per-source rank rides `grouped_row_number`: the quota is a
    JOIN-DERIVED column, so Spark's WindowGroupLimit cannot map-side
    limit a `rn <= n_keep` filter (it needs a foldable limit — probed
    on 4.1), and a plain source-partitioned window would sort each
    domain's entire slice in ONE task. The grouped rank range-
    partitions the (source, md5, doc_id) total order across all
    partitions and recovers rank-within-source by offset subtraction —
    every sort parallel, no per-domain hot task."""
    from ..operators.relational import grouped_row_number

    d = load(spark, sf_dir, "documents")
    quota = local_rows(
        spark,
        [("src0", 20), ("src1", 20), ("src2", 20), ("src3", 20), ("src4", 5)],
        "source string, n_keep int",
    )
    ranked = grouped_row_number(
        d.select("doc_id", "source"),
        ["source"],
        [F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"],
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("grn") <= F.col("n_keep"))
        .select("doc_id", "source")
    )


@register(
    "k_corpus_shuffle",
    oracle="""
    SELECT row_number() OVER (
               ORDER BY md5('shuf42:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS ord,
           doc_id
    FROM documents
    """,
)
def k_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every epoch's data
    order is a total order on md5(seed || doc_id) — reproducible across
    reruns and engines (vs ORDER BY rand(), whose sample is
    partitioning-dependent), re-seedable per epoch by changing the
    prefix.

    At 100 TB the naive form — one ORDER BY window — funnels the corpus
    through a single task; this uses `global_row_number`
    (range-repartition on the hash key + per-partition rank + broadcast
    #partitions-row offsets), so the sort is the same distributed range
    sort a shuffled-shard write would use and no task sees more than one
    partition's rows.
    """
    from ..operators.relational import global_row_number

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))).alias(
            "_sk"
        ),
    )
    return (
        global_row_number(d, "_sk", "doc_id")
        .select(F.col("rn").alias("ord"), "doc_id")
    )


@register(
    "k_interleave_sources",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               1 + (('0x' || substr(md5(source), 1, 2))::BIGINT % 3) AS weight,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS r
        FROM documents
    )
    SELECT doc_id, source,
           CAST(weight AS BIGINT) AS weight,
           CAST(r AS BIGINT)      AS src_rank,
           CAST(row_number() OVER (
               ORDER BY (r - 0.5) / weight, source, doc_id
           ) AS BIGINT) AS pos
    FROM w
    """,
)
def k_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source interleave — the training-order construction for a
    domain-mixture corpus: source s with weight w contributes its r-th
    document at virtual time (r - 0.5) / w, so a weight-3 source appears
    3x as often as a weight-1 source and every source is spread evenly
    through the epoch (stride scheduling) instead of concatenated in
    blocks. Weights here derive deterministically from md5(source) so
    both engines compute the same mixture without a config table; a real
    pipeline would broadcast-join its sampling-weights dim instead.

    Per-source ranks ride `grouped_row_number`: the interleave
    needs EVERY row's rank — no top-k filter exists to push down, so a
    source-partitioned window would sort each source's whole slice in
    one task (mixtures have FEW sources, each corpus-scale). The
    grouped rank range-partitions the (source, md5, doc_id) total
    order so every sort is parallel; the GLOBAL position uses the same
    distributed global_row_number scheme (range repartition +
    per-partition rank + broadcast offsets), never a single-partition
    ORDER BY window. The interleave key is exact: small-int arithmetic
    in double — identical in both engines — with (source, doc_id) as
    the total-order tiebreak.
    """
    from ..operators.relational import global_row_number, grouped_row_number

    d = load(spark, sf_dir, "documents")
    weight = 1 + F.conv(F.substring(F.md5("source"), 1, 2), 16, 10).cast("long") % 3
    ranked = (
        grouped_row_number(
            d.select("doc_id", "source"),
            ["source"],
            [F.md5(F.col("doc_id").cast("string")), "doc_id"],
        )
        .select(
            "doc_id",
            "source",
            weight.alias("weight"),
            F.col("grn").alias("src_rank"),
        )
        .withColumn("_ik", (F.col("src_rank") - 0.5) / F.col("weight"))
    )
    return global_row_number(ranked, "_ik", "source", "doc_id").select(
        "doc_id",
        "source",
        "weight",
        "src_rank",
        F.col("rn").alias("pos"),
    )


@register(
    "k_temperature_mixture",
    oracle="""
    WITH cnt AS (
        SELECT source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    wts AS (
        SELECT source, c,
               CAST(round(power(CAST(c AS DOUBLE) / (SELECT n FROM tot), 0.7)
                          * 1000000.0) AS BIGINT) AS w_e6
        FROM cnt
    ),
    tw AS (SELECT CAST(sum(w_e6) AS BIGINT) AS sw FROM wts),
    quota AS (
        SELECT source,
               CAST(round(250.0 * w_e6 / (SELECT sw FROM tw)) AS BIGINT) AS n_keep
        FROM wts
    )
    SELECT doc_id, source FROM (
        SELECT d.doc_id, d.source, q.n_keep,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('temp:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rn
        FROM documents d JOIN quota q USING (source)
    ) WHERE rn <= n_keep
    """,
)
def k_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the mC4/XLM-R upsampling rule):
    per-source keep quotas COMPUTED from the corpus's own counts as
    p_s^alpha / sum(p^alpha) with alpha=0.7 — flattening the source
    distribution so long-tail domains survive — then the deterministic
    md5-ordered keep, scaled to a 250-doc budget. k_domain_mixture is
    the fixed-quota cousin; this one derives the weights.

    Cross-engine exactness: each source's p^0.7 is one pow() on
    identical doubles (identical result), but the NORMALIZER is a sum
    of those 5 doubles in engine-chosen order — so each weight is
    quantized to an e6 integer first and the normalizer is an exact
    bigint sum (the k_char_entropy term-quantization rule). The final
    quota divides exactly-representable numbers, so round() cannot
    disagree.

    Scale shape: one uniform source aggregation (source-domain-bounded
    output) -> two 1-row broadcasts for the totals -> quota table
    broadcast back into the same source-partitioned rank window
    k_domain_mixture uses. The corpus is scanned twice (count + rank);
    a cached count table collapses that to once per rebuild.
    """
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    wts = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            F.pow(F.col("c").cast("double") / F.col("n").cast("double"), 0.7)
            * 1000000.0
        )
        .cast("long")
        .alias("w_e6"),
    )
    tw = wts.agg(F.sum("w_e6").alias("sw"))
    quota = wts.crossJoin(F.broadcast(tw)).select(
        "source",
        F.round(F.lit(250.0) * F.col("w_e6") / F.col("sw")).cast("long").alias("n_keep"),
    )
    # grouped rank: n_keep is join-derived, so WindowGroupLimit
    # cannot bound a source-partitioned window — see k_domain_mixture.
    from ..operators.relational import grouped_row_number

    ranked = grouped_row_number(
        d.select("doc_id", "source"),
        ["source"],
        [
            F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string")).cast("binary")),
            "doc_id",
        ],
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("grn") <= F.col("n_keep"))
        .select("doc_id", "source")
    )


@register(
    "k_rejection_sample_quality",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr,
               ('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                   / 4503599627370496.0 AS u
        FROM documents
    )
    SELECT doc_id, round(ttr, 6) AS ttr, round(u, 6) AS u, u < ttr AS kept
    FROM scored
    """,
)
def k_rejection_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic REJECTION sampling by quality weight — the CCNet
    soft-sampling idiom (keep probability proportional to a quality
    score, here type-token ratio, instead of a hard threshold, so
    borderline docs survive at reduced rate and the kept distribution
    tilts toward quality without a cliff). The acceptance draw is an
    md5-derived uniform u in [0,1) (13 hex chars / 2^52 — exactly
    representable), keep iff u < score: reproducible across reruns,
    engines, and partitionings, where rand() would break resumption
    and could never be oracle-checked (the k_augment_token_dropout
    rule).

    The comparison u < ttr happens on the UNROUNDED values in both
    engines — both are single-division doubles from identical exact
    integers, so the boolean cannot flip; the rounded columns are
    display-only. Map-only, zero shuffles.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rs:"), F.col("doc_id").cast("string")).cast("binary")),
                1, 13,
            ),
            16, 10,
        ).cast("long")
        / F.lit(4503599627370496.0)
    )
    return d.select(
        "doc_id",
        F.round(ttr, 6).alias("ttr"),
        F.round(u, 6).alias("u"),
        (u < ttr).alias("kept"),
    )


@register(
    "k_dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('dsir:' || t), 1, 15))::BIGINT % 64 AS b
        FROM tok
    ),
    raw AS (
        SELECT b, count(*) AS c FROM b GROUP BY b
    ),
    tgt AS (
        SELECT b, count(*) AS c FROM b WHERE lang = 'en' GROUP BY b
    ),
    totals AS (
        SELECT (SELECT sum(c) FROM raw) AS n_raw,
               (SELECT coalesce(sum(c), 0) FROM tgt) AS n_tgt
    ),
    terms AS (
        SELECT r.b,
               CAST(round((ln((coalesce(t.c, 0) + 1)
                              / CAST(tt.n_tgt + 64 AS DOUBLE))
                           - ln((r.c + 1) / CAST(tt.n_raw + 64 AS DOUBLE)))
                          * 1000000, 0) AS BIGINT) AS term_e6
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN totals tt
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT)      AS n_tokens,
           CAST(sum(tm.term_e6) AS BIGINT) AS logratio_e6_sum,
           {sql_round_div_e4("sum(tm.term_e6)", "count(*) * 1000000", 6)}
               AS avg_logratio
    FROM b d JOIN terms tm USING (b)
    GROUP BY d.doc_id
    """,
)
def k_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): score every raw
    document by its hashed-n-gram importance ratio against a target
    distribution — here unigram features hashed into 64 md5 buckets,
    target = the English sub-corpus — so resampling by this weight
    shifts the corpus toward the target domain without training a
    classifier.

    Determinism scheme: per-BUCKET log ratio
    ln(p_tgt[b]) - ln(p_raw[b]) (Laplace +1 smoothing, so empty
    target buckets stay finite) is quantized to an e6 integer ONCE in
    the 64-row bucket table; each doc's score is then an exact
    INTEGER sum of its tokens' bucket terms (the k_char_entropy rule
    — a float sum over tokens would reassociate differently per
    partition), divided and rounded once at the end.

    Scale shape: two bucket aggregations over the exploded token
    stream (uniform md5 keys, map-side partial -> 64 rows each), the
    64-row term table broadcast back to the token stream, one doc_id
    aggregation. Nothing is corpus-quadratic; the bucket table is
    O(1). The explode doubles as the same scan the quality-feature
    ops run — in a composed pipeline they share it.
    """
    d = load(spark, sf_dir, "documents")
    n_buckets = 64
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("t")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("t"))), 1, 15), 16, 10
        ).cast("long")
        % n_buckets
    )
    b = tok.select("doc_id", "lang", bucket.alias("b"))
    raw = b.groupBy("b").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        b.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    totals = raw.agg(F.sum("c_raw").alias("n_raw")).crossJoin(
        tgt.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("n_tgt"))
    )
    terms = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                        / (F.col("n_tgt") + n_buckets).cast("double")
                    )
                    - F.log(
                        (F.col("c_raw") + 1)
                        / (F.col("n_raw") + n_buckets).cast("double")
                    )
                )
                * 1000000,
                0,
            )
            .cast("long")
            .alias("term_e6"),
        )
    )
    # accumulate in DECIMAL, not long: Spark's long sum
    # wraps silently past int64 at corpus scale while the DuckDB oracle
    # widens to HUGEINT — the exact overflow e4()'s docstring cites.
    # The display sum casts back to long only at the end (fixture-exact;
    # the quotient path below is the statistic that must never wrap).
    dec_sum = F.sum(F.col("term_e6").cast("decimal(20,0)"))
    return (
        b.join(F.broadcast(terms), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dec_sum.cast("long").alias("logratio_e6_sum"),
            round_div_e4(
                dec_sum,
                F.count(F.lit(1)) * 1000000,
                6,
            ).alias("avg_logratio"),
        )
    )


@register(
    "k_hash_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ('0x' || substr(md5('ss:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                   / 4503599627370496.0 AS u,
               CASE WHEN lang = 'en' THEN 0.2 ELSE 0.6 END AS frac
        FROM documents
    ) WHERE u < frac
    """,
)
def k_hash_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling as a PURE FUNCTION of the row key — the
    reproducible twin of k_stratified_sample's seeded sampleBy (whose
    sample depends on the physical partitioning, so a repartitioned
    rerun keeps different rows): keep a doc iff its md5-derived
    uniform u in [0,1) (13 hex chars / 2^52, exactly representable —
    the k_rejection_sample_quality idiom, 'ss:'-prefixed so this op's
    draw is independent of the rejection sampler's) falls under its
    language's keep fraction (downsample the dominant 'en' to 0.2,
    keep 0.6 of everything else — the rebalance-the-head mixing move).
    Per-stratum realized fractions concentrate around the targets by
    Chernoff; the sample is identical across reruns, engines, cluster
    sizes, and partitionings, which is what a 100 TB curation pipeline
    actually needs from a sampler (resumable, diffable, auditable).

    The u < frac comparison runs on exact doubles in both engines
    (single division of identical exact integers; frac literals are
    exact), so the kept set is hash-checked — no rows-only escape.
    Map-only: the draw happens inside the scan stage, zero shuffles,
    no driver-side fraction map to collect (the CASE is the map), so
    unlike sampleBy there is no stratum-cardinality ceiling."""
    d = load(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("ss:"), F.col("doc_id").cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4503599627370496.0)
    )
    frac = F.when(F.col("lang") == "en", F.lit(0.2)).otherwise(F.lit(0.6))
    return d.where(u < frac).select("doc_id", "lang")
