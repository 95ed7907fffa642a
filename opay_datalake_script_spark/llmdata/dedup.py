"""Document deduplication operators (SURVEY.md §2-K).

The training-data-pipeline extension (BASELINE.json north star): exact
dedup via content hash, near-dup via MinHash-LSH banding, SimHash
fingerprints, and exact n-gram/token Jaccard verification of LSH
candidates. Scale design notes per operator; all shuffles key on content
hashes, which are uniform by construction (no skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.io import load


def normalized_text(col: str = "text"):
    """lowercase -> trim -> collapse internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


_MINHASH_K = 16  # signature width

def _mh_expr_sql(i: int) -> str:
    """DuckDB: 60-bit md5-derived hash of token `tok` under seed i."""
    return f"('0x' || substr(md5({i} || ':' || tok), 1, 15))::BIGINT"


# The WHERE doc_id IS NOT NULL below (and in _band_cand_ctes' mh_toks)
# mirrors the canonical-plan filter pin in minhash_signatures exactly, so
# the oracle stays a term-for-term twin even on a corpus WITH null doc_ids
# (the fixtures have none, but a latent divergence would surface silently).
_MINHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM documents
        WHERE doc_id IS NOT NULL
    )
    SELECT doc_id,
           {", ".join(f"min({_mh_expr_sql(i)}) AS mh{i}" for i in range(_MINHASH_K))}
    FROM toks GROUP BY doc_id
"""

# Band schemes: each band is a tuple of signature indices, and a doc's
# bucket in that band is md5 of those minhashes joined by ':'. _BANDS
# (8 bands x 2 rows) is the scheme every banding oracle mirrors;
# ONE_HASH_BANDS (16 bands x 1 row) misses a 0.6-Jaccard pair with
# p = 0.4^16 ~ 4e-7 instead of (1 - 0.6^2)^8 ~ 2.8%.
_BANDS = [(2 * j, 2 * j + 1) for j in range(_MINHASH_K // 2)]
ONE_HASH_BANDS = [(i,) for i in range(_MINHASH_K)]

# Skew guard for degenerate (band, bucket) groups (boilerplate-heavy
# corpora): a bucket wider than this emits STAR pairs — (min doc_id in
# bucket) x (each other member) — plus LSH_CHAIN_SALTS salted
# deterministic CHAINS (consecutive members in md5(doc_id:salt) order)
# instead of all O(B^2) pairs, bounding per-bucket candidate volume to
# (1 + salts)·(B-1); at 100 TB a 1M-doc boilerplate bucket would
# otherwise emit 5e11 pairs from one shuffle key.
#
# The capped bucket's PAIR LIST is truncated by construction — a dense
# near-dup family has a quadratic true-pair set, which no
# bounded-candidate scheme can list; pair-level recall inside oversized
# buckets is intentionally partial. Cluster connectivity is NOT kept
# either. At sf0.1, against the exact all-pairs truth (same language,
# token Jaccard >= 0.6: 1,822,326 pairs, 404 components), 8x2 banding
# at cap 1024 verifies 195,312 pairs and 478 components, and 16x1
# banding at the same cap 246,973 pairs and 468. The capped pipelines
# (k_corpus_build_pipeline, k_corpus_dedup_winnow) match their oracles
# because those oracles mirror the cap, not because the cap keeps
# connectivity; the jobs whose oracles are exact components band
# uncapped (pipeline._component_candidates).
#
# A drop cap (CCNet-style) would lose the whole bucket instead. 1024
# is above the widest fixture bucket at sf0.01 (383 measured), so
# oracle-SF results are unchanged; sf0.1's widest (3921) is
# star+chain-expanded.
LSH_BUCKET_CAP = 1024
LSH_CHAIN_SALTS = 4

# Sub-bucket chunking for the salted-chain ORDERING (the
# cap bounds an oversized bucket's candidate OUTPUT, but the chain's
# per-(band, bucket, salt) sort window cannot be split by AQE, so a
# degenerate mega-bucket — tens of millions of boilerplate docs at
# 100 TB — would pin one sort task per salt). Each oversized bucket's
# members are split into ceil(bsz / CHAIN_CHUNK_ROWS) deterministic
# md5-prefix sub-buckets and each sub-chain is ordered independently:
# no task ever sorts more than ~CHAIN_CHUNK_ROWS rows, the O(B·salts)
# candidate bound is preserved (a c-chunk group emits L - c raw links
# vs L - 1 unchunked; note the DISTINCT union across bands can still
# grow, because per-band bucket sizes give per-band chunk counts and
# so per-band DIFFERENT chains, where the unchunked band-independent
# md5(doc_id:salt) order repeated the same chain in every band — the
# chunked probes are the genuinely independent-per-band ones the
# design always claimed), and because chunk assignment reuses the
# chain's own md5(doc_id:salt) key, members land in different chunks
# under different salts — expected probes per member stay ~2 per salt
# (exact for every non-endpoint; a 1M bucket splits into 62 chunks,
# i.e. ~124 endpoint members and 61 lost links per salt out of 1M
# members). Buckets at or below the
# chunk size plan ONE chunk, so outputs are bit-identical to the
# unchunked r10 scheme everywhere the fixture (or any bucket narrower
# than 16384) can reach.
CHAIN_CHUNK_ROWS = 16384


def chain_cte_sql(
    sized: str,
    key: str = "bucket",
    cap: int = LSH_BUCKET_CAP,
    chunk_rows: int = CHAIN_CHUNK_ROWS,
) -> str:
    """DuckDB body (parenthesized SELECT, ready for `name AS ...`) of the
    salted + CHUNKED chain expansion over an oversized-bucket relation
    ``sized(doc_id, band, <key>, bsz)`` — the ONE SQL definition of the
    chain scheme, shared by the MinHash, winnow, and image-ahash oracles
    (multimodal imports it) so the three banding families cannot
    desynchronize on the skew guard. Mirrors `capped_bucket_pairs`
    term-for-term: ordering key md5(doc_id ':' salt), chunk id =
    32-bit md5 prefix mod ceil(bsz / chunk_rows), chains link
    consecutive members WITHIN a (band, key, salt, chunk) group."""
    salts = ", ".join(str(s) for s in range(LSH_CHAIN_SALTS))
    return f"""(
        SELECT least(doc_id, nxt) AS doc_a, greatest(doc_id, nxt) AS doc_b
        FROM (
            SELECT doc_id,
                   lead(doc_id) OVER (
                       PARTITION BY band, {key}, salt, chunk
                       ORDER BY ok, doc_id
                   ) AS nxt
            FROM (
                SELECT doc_id, band, {key}, salt,
                       md5(doc_id::VARCHAR || ':' || salt::VARCHAR) AS ok,
                       ('0x' || substr(md5(doc_id::VARCHAR || ':' || salt::VARCHAR), 1, 8))::BIGINT
                           % (((bsz - 1) // {chunk_rows}) + 1) AS chunk
                FROM (SELECT doc_id, band, {key}, bsz FROM {sized}
                      WHERE bsz > {cap})
                CROSS JOIN (SELECT unnest([{salts}]) AS salt) s
            )
        ) WHERE nxt IS NOT NULL
    )"""


def _band_cand_ctes(
    cap: int = LSH_BUCKET_CAP,
    chunk_rows: int = CHAIN_CHUNK_ROWS,
    src: str = "documents",
) -> str:
    """Reusable CTE block: md5-MinHash signatures -> 8x2 banding ->
    distinct candidate pairs, as `band_cand(doc_a, doc_b)`. Shared (via
    the default-parameter `_BAND_CAND_CTES` snapshot) by the banding
    oracle itself AND by every oracle that composes "banded candidates
    -> exact verify" (k_jaccard_pairs, k_ngram_jaccard,
    k_near_dedup_lsh), so the DuckDB twin reproduces the identical
    candidate set the Spark side generates — including the bucket-width
    star cap (`bsz <= cap OR doc_a = hub`; hub = min doc_id, so star
    pairs always have doc_a = hub under the doc_a < doc_b convention)
    and the chunked salted chains. Cap/chunk-parameterized so the
    forced-small-cap and forced-small-chunk mirror tests rebuild the
    WHOLE oracle instead of string-replacing constants; src-
    parameterized so pipeline oracles that band a SUBSET (e.g. the
    exact-dedup survivors — bucket widths, and therefore the cap's
    behavior, differ between banding a subset and banding everything
    then filtering) reuse the identical block."""
    return f"""
    mh_toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM {src}
        WHERE doc_id IS NOT NULL
    ),
    mh_sig AS (
        SELECT doc_id,
               {", ".join(f"min({_mh_expr_sql(i)}) AS mh{i}" for i in range(_MINHASH_K))}
        FROM mh_toks GROUP BY doc_id
    ),
    mh_buckets AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {j} AS band, md5(mh{a} || ':' || mh{b}) AS bucket FROM mh_sig"
            for j, (a, b) in enumerate(_BANDS)
        )}
    ),
    mh_sized AS (
        SELECT doc_id, band, bucket,
               count(*) OVER (PARTITION BY band, bucket) AS bsz,
               min(doc_id) OVER (PARTITION BY band, bucket) AS hub
        FROM mh_buckets
    ),
    mh_chain AS {chain_cte_sql("mh_sized", "bucket", cap, chunk_rows)},
    band_cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM mh_sized a JOIN mh_sized b
              ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            WHERE a.bsz <= {cap} OR a.doc_id = a.hub
            UNION ALL
            SELECT doc_a, doc_b FROM mh_chain
        )
    )
"""


_BAND_CAND_CTES = _band_cand_ctes()

_BAND_ORACLE = f"WITH {_BAND_CAND_CTES} SELECT doc_a, doc_b FROM band_cand"


@register(
    "k_text_normalize",
    oracle="""
    SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
    FROM documents
    """,
)
def k_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the pre-step every dedup shares)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", normalized_text().alias("norm"))


@register(
    "k_exact_dedup",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
           min(doc_id) AS keep, count(*) AS dups
    FROM documents
    GROUP BY 1
    """,
)
def k_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5(normalized text): one group per distinct
    content, keeper = min doc_id, multiplicity = dups.

    At 100 TB: group keys are 128-bit hashes (uniform -> no skew); the
    shuffle moves only (hash, doc_id), never the text itself.
    """
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return (
        d.groupBy(h.alias("h"))
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("dups"))
    )


def pair_sides(cand: DataFrame, per_doc: DataFrame) -> DataFrame:
    """Fetch each end's per-document data onto candidate pairs — the one
    place a verify stage meets its per-doc side. ``cand`` carries
    (doc_a, doc_b); ``per_doc`` carries doc_id plus any columns, and
    each column ``c`` arrives as ``c_a``/``c_b``. Two inner equi-joins
    keyed on doc_id (uniform), so a candidate whose doc is missing from
    ``per_doc`` yields no row.

    Join strategy: ``per_doc`` is one row per document — tiny next to
    the candidate-pair stream at test scale, so shipping it to the pairs
    avoids shuffling the wide candidate stream twice (measured 2.2x at
    sf0.1: 232 s -> 107 s for 11M candidates). It is CORPUS-LINEAR, so
    it carries no hint: Catalyst broadcasts it while its optimized-plan
    estimate is under ``autoBroadcastJoinThreshold``, and past that the
    joins plan as doc_id-keyed shuffled equi-joins with the same
    semantics."""
    cols = [c for c in per_doc.columns if c != "doc_id"]

    def side(s: str) -> DataFrame:
        return per_doc.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in cols],
        )

    return cand.join(side("a"), "doc_a").join(side("b"), "doc_b")


def exact_jaccard_scores(
    toks: DataFrame,
    cand: DataFrame,
    set_col: str,
    min_jaccard: float,
    same_lang: bool = False,
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs with exact set Jaccard >=
    ``min_jaccard``, as (doc_a, doc_b, jaccard). ``toks`` has
    (doc_id, <set_col>) — plus lang when ``same_lang`` keeps only
    same-language pairs — and <set_col> holds DISTINCT elements, so
    |a ∪ b| = |a| + |b| - |a ∩ b| exactly: the per-doc sizes are
    computed once on the doc side, not per candidate, and the union is
    never built (same integers -> bit-identical doubles).

    Plan: Catalyst substitutes ``_inter`` into the threshold and pushes
    it into the second fetch join's condition, after the language
    equality. The optimized plan computes the intersection twice per
    candidate there (numerator and denominator) and once more per
    surviving pair in the projection above — or not at all there when
    the caller keeps only doc_a/doc_b."""
    per_doc = toks.select(
        "doc_id",
        *(["lang"] if same_lang else []),
        F.col(set_col).alias("s"),
        F.size(set_col).alias("n"),
    )
    joined = pair_sides(cand, per_doc)
    if same_lang:
        joined = joined.where(F.col("lang_a") == F.col("lang_b"))
    with_inter = joined.select(
        "doc_a", "doc_b", "n_a", "n_b",
        F.size(F.array_intersect("s_a", "s_b")).alias("_inter"),
    )
    jac = F.col("_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("_inter")
    )
    return (
        with_inter.where(jac >= F.lit(min_jaccard))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def exact_jaccard_pairs_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact token-set Jaccard >= 0.6 within a language — the
    O(n_b^2) ground truth the LSH recall tests measure against. Test-only
    scaffolding: the REGISTERED ops never run this shape (see
    k_jaccard_pairs)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("tset")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tset"), F.col("b.tset")))
    union = F.size(F.array_union(F.col("a.tset"), F.col("b.tset")))
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(jac >= 0.6)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "k_jaccard_pairs",
    oracle=f"""
    WITH {_BAND_CAND_CTES},
    jp_toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tset, b.tset))), 6) AS jaccard
    FROM band_cand c
    JOIN jp_toks a ON a.doc_id = c.doc_a
    JOIN jp_toks b ON b.doc_id = c.doc_b
    WHERE a.lang = b.lang
      AND CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
    """,
)
def k_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= 0.6 within a language, scored ONLY on
    banded-LSH candidate pairs — the production candidates -> verify
    composition, not an all-pairs scan.

    A lang-blocked self-join would be O(n_b^2) per block; this form
    replaces the block scan with the (band, bucket) equi-join of
    `band_candidate_pairs` (8 bands x 2 rows of md5-MinHash) followed by
    two doc_id-keyed joins to fetch token sets. A true 0.6-Jaccard pair misses every band with prob
    (1-0.6^2)^8 ~ 2.8% worst-case (99.3% measured recall on the sf0.01
    fixture); the DuckDB oracle mirrors the identical md5 banding, so
    the output is still hash-checked exactly.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("tset")
    )
    scored = exact_jaccard_scores(
        toks, band_candidate_pairs(d), "tset", min_jaccard=0.6, same_lang=True
    )
    return scored.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "k_near_dedup_lsh",
    oracle=f"""
    WITH {_BAND_CAND_CTES},
    nd_toks AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           round(1 - CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.tset, b.tset))), 6)
               AS jaccard_dist
    FROM band_cand c
    JOIN nd_toks a ON a.doc_id = c.doc_a
    JOIN nd_toks b ON b.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
    """,
)
def k_near_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (Jaccard distance <= 0.4) via MinHash-LSH
    banding + exact verification — THE 100 TB dedup path as one op.

    Candidates come from the deterministic md5-MinHash banding
    (`band_candidate_pairs`: 1.56x true-pair volume, 99.3% measured
    recall) and each is verified with exact token-set Jaccard — so
    precision is 1.0, the distance column is exact, and the whole op is
    HASH-CHECKED against a DuckDB twin of the identical banding.
    """
    d = load(spark, sf_dir, "documents")
    # no same_lang: cross-language dups count
    toks = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("tset"))
    scored = exact_jaccard_scores(
        toks, band_candidate_pairs(d), "tset", min_jaccard=0.6
    )
    return scored.select(
        "doc_a", "doc_b", F.round(1 - F.col("jaccard"), 6).alias("jaccard_dist")
    )


_SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed 64-bit in BOTH engines

_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks
    ),
    v AS (
        SELECT doc_id,
               {", ".join(f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(_SIMHASH_BITS))}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"(CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)" for b in range(_SIMHASH_BITS))}
           AS simhash60
    FROM v
"""


@register("k_simhash", oracle=_SIMHASH_ORACLE)
def k_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints from token hashes.

    Pure DataFrame ops: explode tokens -> 60-bit md5-derived token hash
    -> per-bit +/-1 votes aggregated with sum(CASE) -> recombine bits.
    Near-dups then reduce to a cheap equi-join on fingerprint bands
    (Hamming-adjacent blocks), the same shuffle shape as exact dedup —
    no pairwise comparisons.

    The token hash is conv(md5[0:15], 16, 10) rather than xxhash64:
    md5 agrees bit-for-bit across engines, which makes the whole
    signature oracle-checkable (the DuckDB twin recomputes the identical
    votes), and 15 hex chars = 60 bits keeps the value inside signed
    int64 in both. In production the hash is swappable; the vote/band
    structure — the part that matters at 100 TB — is unchanged.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(normalized_text(), " "))).alias("tok"),
    ).withColumn(
        "th",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1).cast("long")) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(_SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", sig.alias("simhash60"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """k=16 md5-derived MinHash signature for (doc_id, text) rows —
    the reusable Spark-side twin of the `mh_sig` oracle CTE.

    The pinned isnotnull(doc_id) filter is a canonical-plan anchor:
    the capped banding expansion consumes this subtree from several
    join branches, and Catalyst pushes the star join's INFERRED
    isnotnull(doc_id) below the signature aggregation on some branches
    but not others (the chain branch is null-safe and infers nothing)
    — so two otherwise identical signature exchanges canonicalized
    differently and the token explode + 16-way md5 hash pass (the one
    full-corpus map pass of the whole dedup path) executed TWICE per
    run even under AQE stage reuse. Filtering here makes every branch identical: one
    ReusedExchange, one token-hash pass. Result-identical — a null
    doc_id can never appear in a candidate pair (doc_a < doc_b and
    least/greatest both reject nulls), and no fixture has one."""
    toks = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id",
        F.explode(F.array_distinct(F.split(normalized_text(), " "))).alias("tok"),
    )

    def mh(i: int):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return F.min(h).alias(f"mh{i}")

    return toks.groupBy("doc_id").agg(*[mh(i) for i in range(_MINHASH_K)])


@register("k_minhash_signature", oracle=_MINHASH_ORACLE)
def k_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit k=16 MinHash signature per document — deterministic and
    engine-portable, so it is oracle-checked. Hash family: h_i(t) =
    60-bit prefix of md5(i ':' t) — md5 agrees bit-for-bit across
    engines, and seeding by prefixing the index gives k independent hash
    functions from one primitive.

    Shape at 100 TB: one explode of distinct tokens (map-side), one
    hash aggregation computing all 16 minima in a single pass — the
    shuffle moves (doc_id, token-hash) pairs once, and partial aggs
    collapse per-mapper minima before the exchange. Signature columns
    are scalars, so downstream banding is pure projection.
    """
    return minhash_signatures(load(spark, sf_dir, "documents"))


@register("k_lsh_band_candidates", oracle=_BAND_ORACLE)
def k_lsh_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate generation from explicit MinHash signatures:
    8 bands x 2 rows — two docs become a candidate pair iff some band of
    their signatures collides. This is the 100 TB dedup join written out
    as DataFrame ops, and — because the hash family is md5-derived —
    the exact candidate set is hash-checked against DuckDB, giving the
    LSH path itself a hard oracle instead of a recall bound.

    Plan shape: signatures (1 explode + 1 hash agg), band expansion by
    stack (map-side), then ONE equi-join keyed on (band, bucket) and a
    distinct — every shuffle keys on uniform hashes, no all-pairs
    comparison anywhere. Bucket ids are 128-bit md5 of signature pairs,
    so only true near-dup clusters collide; buckets wider than
    LSH_BUCKET_CAP (a boilerplate-heavy corpus's degenerate clusters)
    are star+salted-chain-expanded rather than all-paired, bounding
    the one remaining skew hazard at O(B) (at the price of some
    connectivity — see the LSH_BUCKET_CAP note). The oracle mirrors the
    identical cap and chains.
    """
    return band_candidate_pairs(load(spark, sf_dir, "documents"))


def _banded_buckets(
    docs: DataFrame, bands: list[tuple[int, ...]] = _BANDS
) -> DataFrame:
    """(doc_id, band, bucket) banding relation: md5-MinHash signatures
    expanded by stack into ``bands`` (see _BANDS). The ONE place the
    banding scheme lives engine-side — band_candidate_pairs and
    band_bucket_stats both build on it, so a scheme change cannot
    desynchronize the monitor from the generator."""
    sig = minhash_signatures(docs)
    buckets = [
        "md5(concat(" + ", ':', ".join(f"mh{i}" for i in band) + "))" for band in bands
    ]
    stack_expr = ", ".join(f"{j}L, {b}" for j, b in enumerate(buckets))
    return sig.selectExpr(
        "doc_id", f"stack({len(bands)}, {stack_expr}) AS (band, bucket)"
    )


def band_candidate_pairs(
    docs: DataFrame,
    max_bucket_size: int = LSH_BUCKET_CAP,
    chain_chunk_rows: int = CHAIN_CHUNK_ROWS,
    bands: list[tuple[int, ...]] = _BANDS,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b, deterministic) over any
    (doc_id, text) DataFrame — signatures, band expansion, one
    (band, bucket) equi-join, distinct. Measured on the sf0.01 fixture
    with the default 8x2 ``bands``: 110,927 candidates vs 70,998 true
    >= 0.6-Jaccard pairs (1.56x volume, 99.3% recall) — candidate work
    tracks true near-dup volume.

    Skew guard: (band, bucket) groups wider than ``max_bucket_size``
    are STAR-expanded — each member pairs with the bucket's min doc_id
    — PLUS ``LSH_CHAIN_SALTS`` salted deterministic chains (consecutive
    members in md5(doc_id:salt) order pair up), so a degenerate bucket
    contributes (1+salts)·(B-1) candidates instead of B(B-1)/2. The
    star keeps the hub-similar core; the chains give every member
    2·salts·bands more similarity probes. Neither lists the family's
    quadratic PAIR list, and neither keeps its connectivity (see the
    LSH_BUCKET_CAP note). The star guard is the oracle's own
    `bsz <= cap OR doc_id = hub` predicate applied to the LEFT join
    side BEFORE the self-join: a small bucket keeps all its rows
    (all-pairs), an oversized bucket keeps only its hub probe row, so
    the join emits the O(B) star pairs directly and the O(B^2)
    combinations are never materialized or even iterated; the chain
    windows run on the oversized rows only and share the
    (band, bucket) shuffle key. Width stats for tuning/monitoring:
    `band_bucket_stats`."""
    return capped_bucket_pairs(
        _banded_buckets(docs, bands), max_bucket_size, chain_chunk_rows
    )


def capped_bucket_pairs(
    buckets: DataFrame,
    max_bucket_size: int = LSH_BUCKET_CAP,
    chain_chunk_rows: int = CHAIN_CHUNK_ROWS,
) -> DataFrame:
    """The star+salted-chain capped candidate expansion over ANY
    (doc_id, band, bucket) relation — the skew mechanism of
    `band_candidate_pairs` (see its docstring for the measured LSH
    numbers and the design discussion), shared with the winnow
    fingerprint and image-ahash candidates so a cap/chain change cannot
    desynchronize the three bucket families. Emits distinct
    (doc_a < doc_b) pairs: all-pairs inside buckets of <=
    ``max_bucket_size`` members, star + ``LSH_CHAIN_SALTS``
    deterministic chunked chains inside oversized ones.

    Hot-bucket task shape: NO window runs over a
    whole (band, bucket) group anywhere in this plan. Bucket sizing is
    a partial-combining `groupBy(band, bucket).agg(count, min)` joined
    back — an AQE-splittable aggregate+join, not a window whose
    partition is pinned to one task — and a mega-bucket contributes
    exactly ONE a-side star row straight from the aggregate (its hub),
    so the star join's build side never carries the bucket's members.
    The chain ordering windows over (band, bucket, salt, chunk) where
    chunk = md5-prefix mod ceil(bsz / ``chain_chunk_rows``) — see the
    CHAIN_CHUNK_ROWS note — so the widest sort any single task performs
    is ~chain_chunk_rows rows no matter how degenerate the bucket.
    Measured at a synthetic 1,000,000-member bucket: the longest task
    took 1.36 s with chunked chains against 16.22 s with one unchunked
    window per (band, bucket, salt), and chunk boundaries lost 241 of
    about 5.0 M candidates."""
    sizes = buckets.groupBy("band", "bucket").agg(
        F.count("*").alias("bsz"), F.min("doc_id").alias("hub")
    )
    small = sizes.where(F.col("bsz") <= max_bucket_size)
    big = sizes.where(F.col("bsz") > max_bucket_size)
    # a-side: every member of a small bucket, the hub alone for a big
    # one (taken from the aggregate, not from a filtered member scan).
    a = (
        buckets.join(small, ["band", "bucket"])
        .select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .unionByName(big.select(F.col("hub").alias("doc_a"), "band", "bucket"))
    )
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    star = (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    ord_key = F.md5(F.concat_ws(":", F.col("doc_id"), F.col("salt")))
    n_chunks = F.expr(f"(bsz - 1) div {int(chain_chunk_rows)}") + F.lit(1)
    ws = W.partitionBy("band", "bucket", "salt", "chunk").orderBy("ok", "doc_id")
    # NULL-SAFE join back for the chain path: the unchunked
    # window grouped a NULL bucket key into one partition and chained
    # it, and the oracle's PARTITION BY still does — a plain equi-join
    # would silently drop such rows from the chain (the STAR join is
    # intentionally plain: null keys never starred on either engine).
    # Unreachable from the three current callers (md5/int keys), but
    # the helper's contract is "ANY (doc_id, band, bucket) relation".
    bigc = big.select(
        F.col("band").alias("_cband"),
        F.col("bucket").alias("_cbucket"),
        "bsz",
    )
    chain = (
        buckets.join(
            bigc,
            F.col("band").eqNullSafe(F.col("_cband"))
            & F.col("bucket").eqNullSafe(F.col("_cbucket")),
        )
        .select(
            "doc_id", "band", "bucket", "bsz",
            F.explode(F.array(*[F.lit(s) for s in range(LSH_CHAIN_SALTS)])).alias(
                "salt"
            ),
        )
        .withColumn("ok", ord_key)
        .withColumn(
            "chunk",
            F.conv(F.substring("ok", 1, 8), 16, 10).cast("long") % n_chunks,
        )
        .withColumn("nxt", F.lead("doc_id").over(ws))
        .where(F.col("nxt").isNotNull())
        .select(
            F.least("doc_id", "nxt").alias("doc_a"),
            F.greatest("doc_id", "nxt").alias("doc_b"),
        )
    )
    return star.unionByName(chain).distinct()


def band_bucket_stats(
    docs: DataFrame,
    max_bucket_size: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Per-band monitoring for the bucket-width cap: how many (band,
    bucket) groups exist, how many exceed ``max_bucket_size`` (and thus
    get star-expanded by `band_candidate_pairs`), the widest bucket,
    the member rows the cap demotes from all-pairs to star, and
    ``member_pairs_deferred`` — the C(bsz-1, 2) member-member
    combinations per oversized bucket that the star does NOT emit
    directly (the hub-miss EXPOSURE: a deferred pair
    is only lost when both members verify against each other but not
    against the hub, so this column is the upper bound on hub-miss,
    and deferred/(deferred + emitted candidates) is the loggable
    hub-miss-rate ceiling). One extra aggregate over the banding
    relation — run it alongside a big dedup job to log what the cap is
    doing at corpus scale. It reads the default 8x2 scheme, the one
    every capped caller bands with."""
    sizes = _banded_buckets(docs).groupBy("band", "bucket").agg(
        F.count("*").alias("bsz")
    )
    over = F.col("bsz") > max_bucket_size
    m = F.col("bsz") - 1  # star members per oversized bucket
    return sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum(over.cast("long")).alias("n_oversized"),
        F.max("bsz").alias("max_width"),
        F.sum(F.when(over, F.col("bsz")).otherwise(0)).alias("rows_star_expanded"),
        # accumulate m*(m-1) in DECIMAL (a 1M-wide bucket
        # contributes ~1e12 per band; enough of them wrap an int64 sum
        # silently — the exact overflow class the e4 hardening kills
        # elsewhere), then halve exactly: the sum of even numbers is
        # even, so the scale-6 decimal quotient is integral and the
        # downcast is lossless
        (
            F.sum(
                F.when(over, m.cast("decimal(20,0)") * (m - 1)).otherwise(
                    F.lit(0).cast("decimal(20,0)")
                )
            )
            / 2
        )
        .cast("decimal(38,0)")
        .alias("member_pairs_deferred"),
    )


@register(
    "k_ngram_jaccard",
    oracle=f"""
    WITH {_BAND_CAND_CTES},
    ng_toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(range(1, len(t)),
                                            i -> t[i] || ' ' || t[i+1])) AS g
        FROM ng_toks
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
    FROM band_cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b
    WHERE a.lang = b.lang
      AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / len(list_distinct(list_concat(a.g, b.g))) >= 0.3
    """,
)
def k_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram (2-shingle) Jaccard near-dup pairs — order-sensitive
    where token-set Jaccard (`k_jaccard_pairs`) is not: shared shingles
    require shared adjacency, the standard n-gram dedup family.

    Like k_jaccard_pairs, the exact scorer runs ONLY on banded unigram
    MinHash candidate pairs (a lang-blocked self-join would be
    O(n_b^2) per block). Candidates come from unigram
    signatures rather than bigram ones — adjacency-sharing pairs share
    tokens a fortiori, and the oracle mirrors the identical banding so
    the output stays hash-checked. Shingling itself is a JVM
    higher-order function (`transform` over an index `sequence`) — no
    Python, no extra shuffle.
    """
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    shingles = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 1),"
            " i -> concat(element_at(split(text, ' '), i), ' ',"
            "             element_at(split(text, ' '), i + 1)))"
        )
    )
    sh = d.where(F.size(t) >= 2).select("doc_id", "lang", shingles.alias("g"))
    scored = exact_jaccard_scores(
        sh, band_candidate_pairs(d), "g", min_jaccard=0.3, same_lang=True
    )
    return scored.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "k_substring_dedup",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(w, CAST(i AS INT) + 1, CAST(i AS INT) + 10),
                   ' ')) AS span_h
        FROM words, unnest(range(0, len(w) - 10 + 1)) AS t(i)
        WHERE len(w) >= 10)
    SELECT span_h,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM spans GROUP BY span_h
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def k_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window repeated-substring detection — the core of exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): every 10-token window is hashed, and spans
    whose exact content recurs in >= 2 distinct documents are surfaced
    with their document- and occurrence-counts. Downstream removal then
    cuts those char ranges, exactly as k_line_dedup does for its fixed
    blocks — the sliding window catches duplicated passages that
    straddle block boundaries, which block/line hashing misses.

    At 100 TB: the explode emits ~n_tokens rows per doc but projects to
    (128-bit span hash, doc_id) BEFORE the exchange — the wide token
    array never shuffles; the single aggregation keys on uniform md5
    hashes (two-phase partial distinct, no skew). Suffix arrays find
    arbitrary-length repeats; the fixed-window hash form is the
    distributable equivalent every Spark corpus pipeline actually runs.
    """
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 10
    )
    spans = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("w") - 10)).alias("i"),
        "w",
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.expr("slice(w, i + 1, 10)"))).alias("span_h"),
    )
    return (
        spans.groupBy("span_h")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "k_cross_dedup",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, lang,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM documents
    ),
    ev AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 97 = 0)
    SELECT t.doc_id, t.lang, t.h
    FROM hashed t JOIN ev ON t.h = ev.h
    WHERE t.doc_id % 97 <> 0
    """,
)
def k_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact decontamination: flag train documents whose
    normalized content hash collides with any eval document (same
    eval split as `k_contamination_check`: doc_id % 97 == 0) — the
    remove-verbatim-eval-from-train pass every training corpus runs
    before the fuzzier n-gram overlap gate.

    At 100 TB: the eval hash set is tiny (distinct 128-bit hashes of
    the eval corpus) -> broadcast to every train partition, so the scan
    is map-only with no shuffle of train data; output is only the
    flagged rows. The same shape inverts into an anti-join to emit the
    cleaned corpus instead of the removals.
    """
    d = load(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "lang", F.md5(normalized_text().cast("binary")).alias("h")
    )
    ev = (
        hashed.where(F.col("doc_id") % 97 == 0)
        .select("h")
        .distinct()
    )
    return (
        hashed.where(F.col("doc_id") % 97 != 0)
        .join(ev, "h")
        .select("doc_id", "lang", "h")
    )


@register(
    "k_line_dedup",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    lines AS (
        SELECT doc_id, CAST(i AS INT) AS line_no,
               array_to_string(list_slice(w, CAST(i AS INT) * 10 + 1,
                                             CAST(i AS INT) * 10 + 10), ' ') AS line
        FROM words,
             unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)),
    freq AS (
        SELECT line, count(DISTINCT doc_id) AS docfreq FROM lines GROUP BY line)
    SELECT l.doc_id,
           coalesce(string_agg(CASE WHEN f.docfreq < 2 THEN l.line END,
                               ' ' ORDER BY l.line_no), '') AS clean_text,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN f.docfreq >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed
    FROM lines l JOIN freq f USING (line)
    GROUP BY l.doc_id
    """,
)
def k_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level global dedup (the C4/RefinedWeb boilerplate-removal
    pass): split each document into fixed 10-word "lines", drop every
    line whose exact content occurs in >= 2 distinct documents, and
    reassemble the survivors in order.

    At 100 TB: the line-frequency table is the one shuffle that matters
    — key it on a 128-bit hash of the line (uniform, no skew from
    boilerplate hot lines thanks to partial aggregation map-side), join
    it back by the same hash, then the per-doc reassembly groups on
    doc_id. All three exchanges (freq agg, join-back, reassembly) key
    on uniform values and are partial-agg friendly; nothing is ever
    collected to the driver. Within-doc repeats (docfreq = 1) are kept,
    matching C4 semantics.
    """
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_lines = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    lines = d.select(
        "doc_id",
        words.alias("w"),
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_no"),
    ).select(
        "doc_id",
        "line_no",
        F.concat_ws(" ", F.expr("slice(w, line_no * 10 + 1, 10)")).alias("line"),
    )
    # Key the frequency shuffle AND the join-back on a 64-bit hash of the
    # line, not the raw string: the exchange then carries 8-byte uniform
    # keys instead of arbitrarily long text, and hot boilerplate lines
    # cannot skew the join-back (partial agg collapses them map-side).
    hashed = lines.withColumn("line_h", F.xxhash64("line"))
    freq = hashed.groupBy("line_h").agg(
        F.count_distinct("doc_id").alias("docfreq")
    )
    joined = hashed.join(freq, "line_h")
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("line_no"),
                F.when(F.col("docfreq") < 2, F.col("line")).alias("l"),
            )
        )
    )
    return joined.groupBy("doc_id").agg(
        # concat_ws skips null elements, so removed lines vanish while
        # the array_sort(struct(line_no, ...)) keeps survivor order.
        F.concat_ws(" ", F.transform(ordered, lambda s: s["l"])).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("docfreq") >= 2, 1).otherwise(0)).alias("n_removed"),
    )


@register(
    "k_containment_dedup",
    oracle=f"""
    WITH {_BAND_CAND_CTES},
    ct_toks AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
        FROM documents
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                   / len(a.tset) AS cont_a,
               CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                   / len(b.tset) AS cont_b
        FROM band_cand c
        JOIN ct_toks a ON a.doc_id = c.doc_a
        JOIN ct_toks b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           round(cont_a, 6) AS cont_a,
           round(cont_b, 6) AS cont_b,
           CASE WHEN cont_a >= cont_b THEN doc_a ELSE doc_b END AS contained_doc
    FROM scored
    WHERE greatest(cont_a, cont_b) >= 0.95
    """,
)
def k_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset detection via token-set CONTAINMENT |A∩B|/|A| — the
    dedup signal Jaccard misses: a quote-with-commentary or a
    boilerplate-wrapped repost contains ~all of the original's tokens
    while the union keeps Jaccard low. Pairs where either side is
    >= 95% contained in the other are flagged, and `contained_doc`
    names the (near-)subset side — the one a containment-dedup pass
    drops.

    Same scale shape as k_jaccard_pairs: banded md5-MinHash candidates
    (band-bucket equi-join, mirrored verbatim in the oracle CTE) ->
    two doc_id-keyed joins to fetch token sets -> exact containment on
    each candidate — never all-pairs. Honest bound: MinHash banding
    estimates JACCARD, so an extreme small-doc-in-huge-doc pair can
    fall below the banding's similarity floor and be missed; the full
    fix at 100 TB is an additional band on the small side's token
    prefix (or the substring/fingerprint path, k_substring_dedup),
    which this operator's candidates can union in. Containment itself
    is an exact integer ratio — the >= 0.95 gate cannot flip between
    engines.
    """
    d = load(spark, sf_dir, "documents")
    cand = band_candidate_pairs(d.select("doc_id", "text"))
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tset")
    ).withColumn("n", F.size("tset"))
    # AQE coalesces the candidate stream's exchange (two-long rows) into
    # few partitions; the 64-way repartition by count, which AQE leaves
    # alone, keeps the scoring stage wide.
    cand = cand.repartition(64, F.col("doc_a"))
    # Catalyst substitutes _inter into the >= 0.95 gate and pushes it into
    # the second fetch join's condition, so the optimized plan computes
    # the intersection twice there (once per containment ratio) and once
    # more in the projection above it.
    inter = F.size(F.array_intersect("tset_a", "tset_b")).cast("double")
    cont_a = F.col("_inter") / F.col("n_a")
    cont_b = F.col("_inter") / F.col("n_b")
    return (
        pair_sides(cand, toks)
        .select("doc_a", "doc_b", "n_a", "n_b", inter.alias("_inter"))
        .withColumn("_ca", cont_a)
        .withColumn("_cb", cont_b)
        .where(F.greatest("_ca", "_cb") >= 0.95)
        .select(
            "doc_a",
            "doc_b",
            F.round("_ca", 6).alias("cont_a"),
            F.round("_cb", 6).alias("cont_b"),
            F.when(F.col("_ca") >= F.col("_cb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )


@register(
    "k_lsh_tuning_curve",
    oracle="""
    SELECT s_pct,
           round(1.0 - power(1.0 - power(s_pct / 100.0, 2.0), 8.0), 6)
               AS p_candidate_b8_r2,
           round(1.0 - power(1.0 - power(s_pct / 100.0, 4.0), 4.0), 6)
               AS p_candidate_b4_r4,
           round(1.0 - power(1.0 - power(s_pct / 100.0, 8.0), 2.0), 6)
               AS p_candidate_b2_r8
    FROM (SELECT unnest(generate_series(5, 95, 5)) AS s_pct)
    """,
)
def k_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve tuning table: candidate probability
    P = 1 - (1 - s^r)^b over a Jaccard-similarity grid for the three
    (bands, rows) splits of a 16-hash MinHash signature. This is the
    design sheet behind k_lsh_band_candidates' 8x2 choice: b8/r2 keeps
    recall >= 0.99 at s = 0.6 (the pipeline's near-dup threshold) while
    b2/r8 would crater it — and it documents the precision cost (b8/r2
    fires on ~18% of s = 0.3 pairs, why the exact Jaccard verifier
    stays downstream). Shipping the curve as a query keeps the tuning
    auditable next to the operator it justifies, the way BASELINE.md
    pins perf numbers.

    Parity is pure arithmetic: both engines evaluate the identical
    power() chain on the identical s grid (integer percent points /
    100.0 — exactly representable inputs), so round(6) is cosmetic.
    Plan: a generated 19-row series, map-only, zero scans of anything.
    """
    grid = spark.sql("SELECT explode(sequence(5, 95, 5)) AS s_pct")

    def curve(r: int, b: int):
        s = F.col("s_pct") / 100.0
        return F.round(1.0 - F.pow(1.0 - F.pow(s, float(r)), float(b)), 6)

    return grid.select(
        "s_pct",
        curve(2, 8).alias("p_candidate_b8_r2"),
        curve(4, 4).alias("p_candidate_b4_r4"),
        curve(8, 2).alias("p_candidate_b2_r8"),
    )


_MH_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(_MINHASH_K)
)

_MH_EST_ORACLE = f"""
    WITH {_BAND_CAND_CTES},
    est_tsets AS (
        SELECT doc_id,
               list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tset
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           ({_MH_EST_MATCH_SQL}) / 16.0 AS est_jaccard,
           round(CAST(len(list_intersect(ta.tset, tb.tset)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.tset, tb.tset))), 6) AS jaccard,
           round(abs(({_MH_EST_MATCH_SQL}) / 16.0
                 - CAST(len(list_intersect(ta.tset, tb.tset)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tset, tb.tset)))), 6) AS abs_err
    FROM band_cand c
    JOIN mh_sig a ON a.doc_id = c.doc_a
    JOIN mh_sig b ON b.doc_id = c.doc_b
    JOIN est_tsets ta ON ta.doc_id = c.doc_a
    JOIN est_tsets tb ON tb.doc_id = c.doc_b
"""


@register("k_minhash_jaccard_estimate", oracle=_MH_EST_ORACLE)
def k_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch CALIBRATION: for every banded candidate pair, the MinHash
    Jaccard estimate (matching signature positions / 16) next to the
    exact token-set Jaccard and the absolute error — the measurement
    that justifies trusting (or not trusting) signature-only dedup
    decisions at 100 TB, where re-scoring every pair exactly is the
    expensive step this would skip. E[match/k] = J with sd
    sqrt(J(1-J)/16) ~ 0.12 — the table makes that error budget
    concrete per pair, and aggregating abs_err is the regression
    canary for any change to the hash family.

    Everything is deterministic md5 arithmetic (the k_minhash_signature
    family), so even the ESTIMATES are value-hash-checked — est is an
    exact multiple of 1/16, the exact Jaccard an integer ratio, and
    their difference a difference of identical doubles in both engines.
    Exact sets use the same normalized tokens the signatures hash
    (calibration must compare like with like; the raw-token sets of
    k_jaccard_pairs measure a slightly different quantity).

    Scale shape: candidates from the banded equi-join, then one fetch of
    each end's signature and token set (``pair_sides``) — no all-pairs
    anywhere. Signatures meet token sets on the per-doc side, so the
    candidate stream passes through two joins.
    """
    d = load(spark, sf_dir, "documents")
    sig = minhash_signatures(d)
    tsets = d.select(
        "doc_id", F.array_distinct(F.split(normalized_text(), " ")).alias("tset")
    )
    per_doc = sig.join(tsets, "doc_id").withColumn("n", F.size("tset"))
    pairs = pair_sides(band_candidate_pairs(d), per_doc)
    matches = sum(
        F.when(F.col(f"mh{i}_a") == F.col(f"mh{i}_b"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    # |a ∪ b| = |a| + |b| - |a ∩ b|: tset is array_distinct output. With
    # no threshold, the optimized plan computes the intersection twice
    # per candidate (numerator and denominator), in the projection above
    # the fetch joins.
    inter = F.size(F.array_intersect("tset_a", "tset_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return pairs.select(
        "doc_a", "doc_b", (matches / 16.0).alias("est_jaccard"), jac.alias("_j")
    ).select(
        "doc_a", "doc_b", "est_jaccard",
        F.round("_j", 6).alias("jaccard"),
        F.round(F.abs(F.col("est_jaccard") - F.col("_j")), 6).alias("abs_err"),
    )


@register(
    "k_url_canonicalize",
    oracle="""
    WITH synth AS (
        SELECT event_id,
               CASE event_id % 3
                 WHEN 0 THEN 'https://pay.example/' || event_type
                             || '?uid=' || (user_id % 20) || '&a=1'
                 WHEN 1 THEN 'HTTPS://Pay.Example:443/' || event_type
                             || '?a=1&uid=' || (user_id % 20)
                             || '&utm_source=mail'
                 ELSE 'https://pay.example/' || event_type
                      || '/?uid=' || (user_id % 20) || '&utm_campaign=x&a=1'
               END AS url
        FROM events
    ),
    parts AS (
        SELECT event_id,
               lower(regexp_extract(url, '(?i)https?://([^/:?]+)', 1)) AS host,
               regexp_replace(regexp_extract(url, '://[^/?]+(/[^?]*)', 1),
                              '/$', '') AS path,
               regexp_extract(url, '\\?(.*)$', 1) AS query
        FROM synth
    ),
    canon AS (
        SELECT event_id,
               'https://' || host || path || '?' ||
               array_to_string(
                   list_sort(list_filter(string_split(query, '&'),
                                         p -> p NOT LIKE 'utm_%')), '&')
                   AS canonical_url
        FROM parts
    )
    SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_events
    FROM canon
    GROUP BY canonical_url
    """,
)
def k_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the web-corpus dedup key builder
    (CommonCrawl-style prep): lowercase the host, drop the default
    port, strip the trailing slash, remove utm_* tracking params, and
    SORT the surviving query params, so the three deliberately
    different synthesized spellings of the same logical page (mixed
    case + :443, reordered params + tracking, trailing slash +
    tracking) all collapse to ONE canonical key. The group count
    proves the collapse: every canonical URL must aggregate its
    variant spellings (no URL column in the fixtures, so variants
    are synthesized per event the h_url way).

    All string surgery is JVM codegen (regexp extract/replace +
    array filter/sort/join on the param list) — map-only, then one
    uniform-key group. At 100 TB this runs ahead of exact URL dedup
    the same way k_text_normalize runs ahead of k_exact_dedup; the
    canonical key is what you md5 into the dedup hash.
    """
    ev = load(spark, sf_dir, "events")
    uid = F.pmod(F.col("user_id"), F.lit(20)).cast("string")
    url = (
        F.when(
            F.pmod("event_id", F.lit(3)) == 0,
            F.concat(
                F.lit("https://pay.example/"),
                F.col("event_type"),
                F.lit("?uid="),
                uid,
                F.lit("&a=1"),
            ),
        )
        .when(
            F.pmod("event_id", F.lit(3)) == 1,
            F.concat(
                F.lit("HTTPS://Pay.Example:443/"),
                F.col("event_type"),
                F.lit("?a=1&uid="),
                uid,
                F.lit("&utm_source=mail"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://pay.example/"),
                F.col("event_type"),
                F.lit("/?uid="),
                uid,
                F.lit("&utm_campaign=x&a=1"),
            )
        )
    )
    parts = ev.select(
        F.lower(F.regexp_extract(url, r"(?i)https?://([^/:?]+)", 1)).alias("host"),
        F.regexp_replace(
            F.regexp_extract(url, r"://[^/?]+(/[^?]*)", 1), r"/$", ""
        ).alias("path"),
        F.regexp_extract(url, r"\?(.*)$", 1).alias("query"),
    )
    canonical = F.concat(
        F.lit("https://"),
        F.col("host"),
        F.col("path"),
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split("query", "&"),
                    lambda p: ~p.startswith("utm_"),
                )
            ),
            "&",
        ),
    )
    return (
        parts.select(canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "k_edit_distance_pairs",
    oracle=f"""
    WITH {_BAND_CAND_CTES}
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))
                AS BIGINT) AS prefix_edit_dist
    FROM band_cand c
    JOIN documents a ON a.doc_id = c.doc_a
    JOIN documents b ON b.doc_id = c.doc_b
    WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 24
    """,
)
def k_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verifier — the CHARACTER-level scorer the
    set-based family can't replace: token-set Jaccard is blind to
    within-token corruption and reordering cost, while Levenshtein
    charges per character operation. Both engines implement the same
    classic DP, so the score is integer-exact with no rounding scheme
    needed.

    Cost control is structural, not a sampling shortcut: (1) scoring
    runs ONLY on the banded MinHash candidate pairs (never
    all-pairs), and (2) the distance is computed
    on an 80-char PREFIX, making the per-pair DP cost a constant
    O(80^2) instead of O(len^2) — full-document edit distance is
    quadratic in document length and has no distributed decomposition,
    so a bounded-window distance is what production fuzzy dedup
    actually ships (prefix here; shingled windows in k_substring_dedup
    cover the interior). Threshold 24 on an 80-char window ~ 30%
    corruption budget.

    Plan shape inherits the banded scaffold: candidate stream
    repartitioned by doc_a (the AQE-collapse fix), the prefixes fetched
    by `pair_sides`, then a map-only DP per pair.
    """
    d = load(spark, sf_dir, "documents")
    cand = band_candidate_pairs(d).repartition(64, "doc_a")
    prefix = d.select("doc_id", F.substring("text", 1, 80).alias("t"))
    dist = F.levenshtein("t_a", "t_b")
    return (
        pair_sides(cand, prefix)
        .where(dist <= 24)
        .select(
            "doc_a", "doc_b", dist.cast("long").alias("prefix_edit_dist")
        )
    )


# The winnow fingerprint CTEs (t -> h -> f, ending in f(doc_id, fps))
# shared by the k_winnow_fingerprints oracle (textstats.py imports this
# constant) and the k_winnow_candidates oracle below — ONE SQL
# definition of the fingerprint selection, so a k/w/guard change cannot
# desynchronize the two oracles. Lives here rather than in
# textstats.py because dedup imports FIRST in registry._QUERY_MODULES:
# a dedup -> textstats module-level import would reorder registration
# (the stale-refresh tiebreaker), while textstats -> dedup is a cached
# no-op by the time textstats loads. Null-text docs are excluded to
# match Spark (concat_ws would hash them to md5(''); DuckDB's md5
# propagates NULL, so the two engines would disagree on null docs).
def winnow_fps_sql_ctes(src: str = "documents") -> str:
    """The winnow fingerprint CTE block, src-parameterized (r11: the
    corpus-dedup-winnow pipeline oracle fingerprints the exact-dedup
    SURVIVORS, not the whole table). The module constant below stays
    the default-src snapshot textstats imports."""
    return f"""
    t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM {src}
        WHERE text IS NOT NULL
    ),
    h AS (
        SELECT doc_id, n,
               list_transform(range(1, greatest(n - 4, 1) + 1),
                              i -> md5(array_to_string(toks[i:i+4], ' ')))
                   AS hashes
        FROM t
    ),
    f AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   CASE WHEN n >= 8 THEN
                       list_transform(range(1, len(hashes) - 3 + 1),
                                      j -> list_min(hashes[j:j+3]))
                   ELSE [list_min(hashes)] END
               )) AS fps
        FROM h
    )
"""


WINNOW_FPS_SQL_CTES = winnow_fps_sql_ctes()


def _winnow_cand_ctes(
    cap: int,
    chunk_rows: int = CHAIN_CHUNK_ROWS,
    src: str = "documents",
) -> str:
    """CTE chain (fingerprints -> banding -> capped star+chunked-chain
    pairs) ending in `winnow_cand(doc_a, doc_b)` — the composable form
    of the winnow-candidate oracle, shared by `_winnow_cand_oracle`
    and the corpus-dedup-winnow pipeline oracle. Builds on the SHARED
    fingerprint CTEs (the list_sort there is irrelevant to bucketing
    but keeps the block identical to the fingerprint oracle's) and the
    SHARED chain CTE builder."""
    return f"""
    {winnow_fps_sql_ctes(src)},
    wn_b AS (
        SELECT doc_id, 0 AS band, unnest(fps) AS bucket FROM f
    ),
    wn_sized AS (
        SELECT doc_id, band, bucket,
               count(*) OVER (PARTITION BY band, bucket) AS bsz,
               min(doc_id) OVER (PARTITION BY band, bucket) AS hub
        FROM wn_b
    ),
    wn_chain AS {chain_cte_sql("wn_sized", "bucket", cap, chunk_rows)},
    winnow_cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM wn_sized a JOIN wn_sized b
              ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            WHERE a.bsz <= {cap} OR a.doc_id = a.hub
            UNION ALL
            SELECT doc_a, doc_b FROM wn_chain
        )
    )"""


def _winnow_cand_oracle(cap: int, chunk_rows: int = CHAIN_CHUNK_ROWS) -> str:
    """DuckDB twin of `k_winnow_candidates`, cap/chunk-parameterized so
    the forced-small-cap and forced-small-chunk mirror tests (round-7
    LSH lesson: fixture buckets never reach production caps, so the
    default-path differential only proves the no-op branch) can rebuild
    the WHOLE oracle at cap=2 / chunk=2 instead of string-replacing
    constants."""
    return f"""
    WITH {_winnow_cand_ctes(cap, chunk_rows)}
    SELECT doc_a, doc_b FROM winnow_cand
    """


def winnow_candidate_pairs(
    docs: DataFrame,
    max_bucket_size: int = LSH_BUCKET_CAP,
    chain_chunk_rows: int = CHAIN_CHUNK_ROWS,
) -> DataFrame:
    """Candidate near-dup pairs from shared winnow fingerprints: explode
    each doc's winnowed fingerprint set (textstats.winnow_fingerprints)
    into (doc_id, bucket) rows and run them through the SAME capped
    star+chain expansion the MinHash bands use. The winnowing locality
    guarantee turns into a candidate guarantee: two docs sharing any
    w + k - 1 = 8-token run land in one bucket and emit a pair (subject
    to the cap's bounded expansion in degenerate boilerplate buckets).

    Null-text docs are EXCLUDED (mirrored by the oracle's
    `WHERE text IS NOT NULL`): Spark's concat_ws would otherwise hash a
    null doc to md5('') and pair every null/empty doc through one
    sentinel bucket, while DuckDB's NULL-propagating md5 would emit
    nothing — a cross-engine divergence."""
    from .textstats import winnow_fingerprints

    buckets = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.lit(0).alias("band"),
        F.explode(winnow_fingerprints(F.col("text"))).alias("bucket"),
    )
    return capped_bucket_pairs(buckets, max_bucket_size, chain_chunk_rows)


@register("k_winnow_candidates", oracle=_winnow_cand_oracle(LSH_BUCKET_CAP))
def k_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-fingerprint candidate pairs (see `winnow_candidate_pairs`)
    — the second banding family next to MinHash LSH: LSH buckets by
    SIMILARITY of whole documents, winnowing buckets by shared exact
    RUNS (>= 8 tokens), which catches partial containment (quoted
    passages, boilerplate splices) that whole-doc MinHash dilutes away.
    Shares `capped_bucket_pairs` with the LSH path, so both families
    carry the identical 100 TB skew guard; fp buckets key on uniform
    md5 values, and the shuffle carries (fingerprint, doc_id) — never
    text. Fixture scale: max bucket 3 (sf0.01) / 4 (sf0.1), so the cap
    is a no-op here — the forced-small-cap mirror test proves the
    capped branch against a cap=2 oracle rebuild."""
    d = load(spark, sf_dir, "documents")
    return winnow_candidate_pairs(d.select("doc_id", "text"))
