"""Training-data pipeline operators beyond dedup/similarity (SURVEY.md
§2-K extension, round 2): document chunking, sequence packing, PII
scrubbing, train/eval contamination checking, and duplicate-cluster
resolution via connected components.

These are the ops a 100 TB pretraining-corpus build runs between "raw
documents" and "token batches". All are pure DataFrame programs; the only
iteration (connected components) is driver-side control flow over fully
distributed per-step jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.io import load

CHUNK_WIDTH = 64
CHUNK_STRIDE = 48
PACK_BUDGET = 256


@register(
    "k_chunk_documents",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    st AS (
        SELECT doc_id, t, len(t) AS n,
               unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS start
        FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS INTEGER)  AS chunk_id,
           CAST(start AS INTEGER)                          AS start,
           array_to_string(t[start:start + {CHUNK_WIDTH - 1}], ' ') AS chunk,
           CAST(least({CHUNK_WIDTH}, n - start + 1) AS INTEGER)     AS chunk_tokens
    FROM st
    """,
)
def k_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split each doc into token windows
    of CHUNK_WIDTH with CHUNK_STRIDE overlap — the step that turns
    variable-length documents into model-sized training samples.

    posexplode over a JVM `sequence` of window starts: map-only (no
    shuffle), output rows ≈ n_tokens/stride per doc, and the token array
    is built once per row then sliced per window. At 100 TB this runs as
    a pure scan→project stage and parallelizes with the input splits.
    """
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    base = d.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    st = base.select(
        "doc_id",
        "t",
        "n",
        F.posexplode(F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_STRIDE))).alias(
            "chunk_id", "start"
        ),
    )
    return st.select(
        "doc_id",
        "chunk_id",
        "start",
        F.concat_ws(" ", F.slice("t", F.col("start"), CHUNK_WIDTH)).alias("chunk"),
        F.least(F.lit(CHUNK_WIDTH), F.col("n") - F.col("start") + 1).alias(
            "chunk_tokens"
        ),
    )


@register(
    "k_pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT *, sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum - n_tokens AS BIGINT)                              AS start_offset,
           CAST(floor((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT)   AS bin
    FROM c
    """,
)
def k_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sequence packing: concatenate each language's
    docs in doc_id order and assign every doc to the PACK_BUDGET-token
    bin its start offset falls in — the deterministic streaming packer
    batch builders use (vs NP-hard optimal bin packing).

    Sharded stream key: a window partitioned by `lang` alone would give
    exactly #languages sort tasks no matter the corpus size, so the
    running token sum is `global_running_sums` by lang over doc_id
    (operators/relational.py: range shards plus broadcast per-shard
    offsets).
    """
    from ..operators.relational import global_running_sums

    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    base = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    packed = global_running_sums(
        base, ["doc_id"], {"_cum": F.col("n_tokens")}, by=["lang"]
    )
    start = F.col("_cum") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        start.cast("long").alias("start_offset"),
        F.floor(start / F.lit(float(PACK_BUDGET))).cast("long").alias("bin"),
    )


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@register(
    "k_pii_scrub",
    oracle=f"""
    WITH synth AS (
        SELECT doc_id,
               substr(text, 1, 40) || ' contact user' || doc_id ||
               '@example.com or call +1-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' bye' AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')             AS scrubbed,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones
    FROM synth
    """,
)
def k_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — scrub emails/phones before a corpus ships to
    training. The fixtures carry no PII, so deterministic synthetic
    contacts are appended first (making the redaction count assertable);
    the scrub itself is the production shape: chained `regexp_replace`
    with RE2-and-Java-safe patterns, all JVM codegen, map-only.
    """
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" bye"),
    )
    synth = d.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("raw", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("scrubbed"),
        F.regexp_count("raw", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
    )


_TRIGRAM_EXPR = (
    "transform(sequence(1, size(split(text, ' ')) - 2),"
    " i -> concat(element_at(split(text, ' '), i), ' ',"
    "             element_at(split(text, ' '), i + 1), ' ',"
    "             element_at(split(text, ' '), i + 2)))"
)


@register(
    "k_contamination_check",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
        FROM toks
    ),
    tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
    ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 97 = 0)
    SELECT tr.doc_id AS train_id, ev.eval_id, count(*) AS n_shared
    FROM tr JOIN ev ON tr.sh = ev.sh
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def k_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: count distinct shared word
    trigrams between every training doc and every held-out eval doc
    (eval set = doc_id % 97 == 0 here), keeping pairs with >= 3 shared
    shingles — the n-gram-overlap decontamination gate every benchmark-
    clean corpus needs.

    Shape: explode distinct trigrams on both sides, equi-join on the
    shingle, count per (train, eval) pair. The eval side is tiny by
    construction, so it broadcasts — the big side streams through
    map-side; the only shuffle is the final pair-count aggregate. At
    100 TB, shingles become 64-bit hashes so the join key is fixed-width.
    """
    d = load(spark, sf_dir, "documents")
    tri = F.array_distinct(F.expr(_TRIGRAM_EXPR))
    sh = (
        d.where(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", F.explode(tri).alias("sh"))
    )
    is_eval = F.col("doc_id") % 97 == 0
    train = sh.where(~is_eval)
    evals = sh.where(is_eval).select(F.col("doc_id").alias("eval_id"), "sh")
    return (
        train.join(evals, "sh")
        .groupBy(F.col("doc_id").alias("train_id"), "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 3)
    )


@register(
    "k_dedup_components",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(lab) AS comp FROM reach GROUP BY node
    """,
)
def k_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the exact
    near-dup graph (token-Jaccard >= 0.6 edges, same predicate as
    k_jaccard_pairs), labeling every doc with min(doc_id) of its cluster
    — the step that turns pairwise dup hits into "keep one canonical doc
    per cluster". comp == doc_id identifies the keeper.

    Edge generation: MinHash-LSH banding proposes candidate pairs
    (band-bucket join, all-pairs only inside a bucket; see
    `_component_candidates`), then the exact token-set Jaccard scorer
    verifies ONLY those candidates. The components are
    `min_label_components` over the verified pairs.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("tset")
    )
    # AQE coalesces the candidate stream's exchange (two-long rows) into
    # few partitions; the 64-way repartition by count, which AQE leaves
    # alone, keeps the exact-verify stage wide.
    cand = _component_candidates(d.select("doc_id", "text")).repartition(
        64, F.col("doc_a")
    )
    # Exact verify via the shared scorer (tset is array_distinct output).
    # Only doc_a/doc_b are kept, so the optimized plan computes the
    # intersection twice per candidate, both times in the second fetch
    # join's condition (the threshold's numerator and denominator).
    from .dedup import exact_jaccard_scores

    pairs = exact_jaccard_scores(
        toks, cand, "tset", min_jaccard=0.6, same_lang=True
    ).select("doc_a", "doc_b")
    return min_label_components(d, pairs)


def _component_candidates(docs: DataFrame) -> DataFrame:
    """Candidate pairs for the jobs whose oracles are all-pairs exact
    components (k_dedup_components, k_corpus_dedup_pipeline), where a
    missed edge splits a component: 16 one-hash bands, and no bucket
    cap, because any cap breaks connectivity at sf0.1 (see
    dedup.LSH_BUCKET_CAP). The price is the cap's skew guard: a
    degenerate bucket of B docs emits all B(B-1)/2 pairs."""
    from .dedup import ONE_HASH_BANDS, band_candidate_pairs

    return band_candidate_pairs(docs, max_bucket_size=1 << 62, bands=ONE_HASH_BANDS)


def min_label_components(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 15
) -> DataFrame:
    """Connected components of the graph whose vertices are ``nodes``'
    ``doc_id`` and whose edges are the undirected verified ``pairs``
    (``doc_a``, ``doc_b``): every node labeled with the min ``doc_id`` of
    its component, as ``(doc_id, comp)``. ``comp == doc_id`` marks the
    keeper; a node with no pair keeps its own id. Pairs may repeat or
    come in both directions.

    The symmetric edge list ``(a, b)`` is hash-partitioned on ``a`` (the
    key every round joins on; AQE sizes the partition count) and
    localCheckpointed once, since every round re-reads it. Labels start
    as ``comp = doc_id``; each round is one distributed
    join+union+min-aggregate, localCheckpointed so the lineage does not
    grow. The label sum is monotone non-increasing, so an unchanged sum
    means a fixed point: one scalar per round crosses to the driver,
    never rows. Rounds needed = the largest hop count from a component's
    min node, plus the round that sees no change; near-dup clusters
    need few (k_dedup_components: 4 at sf0.01, 5 at sf0.1). The DuckDB
    oracles compute the same fixed point with a recursive CTE.

    Raises RuntimeError when the fixed point is not reached within
    ``max_rounds``: an unconverged label set is a silently-wrong answer,
    so callers should raise the cap, not ship partial components."""
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .repartition(F.col("a"))
        .localCheckpoint()
    )
    labels = nodes.select("doc_id", F.col("doc_id").alias("comp"))
    prev_sum = None
    for _ in range(max_rounds):
        msgs = labels.join(edges, labels.doc_id == edges.a).select(
            F.col("b").alias("doc_id"), "comp"
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"label propagation did not converge within {max_rounds} rounds "
        "(component diameter exceeds the cap); raise max_rounds"
    )


def exact_keepers(df: DataFrame, hash_col: str) -> DataFrame:
    """``df`` plus ``exact_keeper``: the min ``doc_id`` among the rows
    sharing ``hash_col`` (the content hash of the exact-dedup stage).

    A groupBy + NULL-SAFE join back, not min() OVER (PARTITION BY h): a
    boilerplate doc duplicated tens of millions of times is ONE hash
    partition, which a window pins to one task while the aggregate
    partial-combines and the join is AQE-skew-splittable. The null-safe
    join keeps null-hash rows grouped as one family, as the oracles'
    PARTITION BY / GROUP BY treat NULL."""
    keepers = (
        df.groupBy(hash_col)
        .agg(F.min("doc_id").alias("exact_keeper"))
        .withColumnRenamed(hash_col, "_kh")
    )
    return df.join(keepers, F.col(hash_col).eqNullSafe(F.col("_kh"))).drop("_kh")


def dedup_verdicts(keepmap: DataFrame, comp: DataFrame) -> DataFrame:
    """Every doc of ``keepmap`` (``exact_keepers`` output) with its
    ``canonical_id`` (its exact keeper's near-dup component label from
    ``min_label_components`` over the exact survivors), a ``kept`` flag,
    and the ``reason`` it was dropped: 'exact_dup' | 'near_dup' | 'kept'.
    Exact dups inherit their keeper's component, so transitively
    duplicate docs collapse to one canonical id."""
    canon = comp.select(
        F.col("doc_id").alias("exact_keeper"), F.col("comp").alias("canonical_id")
    )
    return (
        keepmap.select("doc_id", "exact_keeper")
        .join(canon, "exact_keeper")
        .select(
            "doc_id",
            "canonical_id",
            (
                (F.col("doc_id") == F.col("exact_keeper"))
                & (F.col("canonical_id") == F.col("doc_id"))
            ).alias("kept"),
            F.when(F.col("doc_id") != F.col("exact_keeper"), "exact_dup")
            .when(F.col("canonical_id") != F.col("doc_id"), "near_dup")
            .otherwise("kept")
            .alias("reason"),
        )
    )


@register(
    "k_corpus_dedup_pipeline",
    oracle="""
    WITH RECURSIVE norm AS (
        SELECT doc_id, lang, text,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
        FROM documents),
    keepmap AS (
        SELECT doc_id, lang, text,
               min(doc_id) OVER (PARTITION BY h) AS exact_keeper
        FROM norm),
    toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
        FROM keepmap WHERE doc_id = exact_keeper),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM toks
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (
        SELECT node AS doc_id, min(lab) AS canonical_id FROM reach GROUP BY node)
    SELECT k.doc_id,
           c.canonical_id,
           (k.doc_id = k.exact_keeper AND c.canonical_id = k.doc_id) AS kept,
           CASE WHEN k.doc_id <> k.exact_keeper THEN 'exact_dup'
                WHEN c.canonical_id <> k.doc_id THEN 'near_dup'
                ELSE 'kept' END AS reason
    FROM keepmap k JOIN comp c ON c.doc_id = k.exact_keeper
    """,
)
def k_corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup materialization — the composition a real
    corpus build runs, as ONE dataflow: (1) exact dedup on the content
    hash (`exact_keepers`), (2) near-dup connected components
    (`min_label_components`) over the exact survivors only, with edges
    proposed by MinHash-LSH banding and verified by exact token Jaccard
    >= 0.6, (3) every document labeled by `dedup_verdicts` with its
    canonical doc, a kept flag, and the reason it was dropped.

    At 100 TB the near-dup stage runs on the (smaller) survivor set with
    banded candidates, never all-pairs.
    """
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    keepmap = exact_keepers(d.select("doc_id", "lang", "text", h.alias("h")), "h")
    surv = keepmap.where(F.col("doc_id") == F.col("exact_keeper"))

    # Band only the exact-dedup survivors: at scale the LSH pass must not
    # re-hash documents already eliminated by the cheaper exact stage.
    cand = _component_candidates(surv.select("doc_id", "text"))
    toks = surv.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("tset")
    )
    # shared exact scorer: same equi-joins, plus the
    # |a|+|b|-|a∩b| union arithmetic (tset is array_distinct output, so
    # the ratios are identical)
    from .dedup import exact_jaccard_scores

    pairs = exact_jaccard_scores(
        toks, cand, "tset", min_jaccard=0.6, same_lang=True
    ).select("doc_a", "doc_b")
    return dedup_verdicts(keepmap, min_label_components(surv, pairs))


@register(
    "k_shard_manifest",
    oracle="""
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 16 AS INT) AS shard,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS content_xor
    FROM documents
    GROUP BY 1
    """,
)
def k_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-delivery manifest: assign every document to one of 16
    hash shards and emit per-shard row counts, token totals, and an
    order-insensitive 60-bit XOR content checksum — what a training run
    verifies before consuming a corpus drop (shard completeness +
    bit-rot detection), and what an incremental rebuild diffs to find
    changed shards.

    At 100 TB: a single hash aggregation with map-side partials; shard
    ids come from uniform md5 bits (no skew), the XOR checksum is
    commutative so partial aggregation is exact, and the output is
    n_shards rows regardless of corpus size. The same shard expression
    drives the physical `partitionBy` of the actual shard write
    (a_sink_partitioned), so the manifest matches the files by
    construction.
    """
    d = load(spark, sf_dir, "documents")
    h60 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    content60 = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    ntok = F.size(F.split("text", " ")).cast("long")
    return (
        d.groupBy(F.pmod(h60, F.lit(16)).cast("int").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ntok).alias("n_tokens"),
            F.bit_xor(content60).alias("content_xor"),
        )
    )


@register(
    "k_quality_filter_pipeline",
    oracle="""
    WITH q AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
        FROM documents),
    g AS (
        SELECT *, (n_tok BETWEEN 20 AND 1000 AND ttr > 0.2) AS q_pass FROM q),
    k AS (
        SELECT *, min(CASE WHEN q_pass THEN doc_id END)
                      OVER (PARTITION BY h) AS keeper
        FROM g)
    SELECT doc_id,
           (q_pass AND doc_id = keeper) AS kept,
           CASE WHEN NOT q_pass THEN 'low_quality'
                WHEN doc_id <> keeper THEN 'exact_dup'
                ELSE 'kept' END AS reason
    FROM k
    """,
)
def k_quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus quality gate (the C4-style pass a corpus build
    runs BEFORE the near-dup stage): (1) cheap per-doc quality gate —
    token-count band + type-token ratio, k_quality_score's predicate —
    then (2) exact dedup among the quality survivors only (keeper = min
    doc_id per content hash), labeling every document kept/dropped with
    the first reason that killed it ('low_quality' | 'exact_dup' |
    'kept'). Filter-before-dedup order matters operationally: the
    quality predicate is map-only and cuts the dedup shuffle's input,
    and a junk doc must not become a hash-group's keeper and evict a
    clean duplicate.

    At 100 TB: stage 1 is embarrassingly parallel in the scan; stage 2
    is one partial-combining keeper aggregate on the uniform 128-bit
    content hash, joined back null-safely (window-free, so a mega
    duplicate family cannot pin one task). Feed the survivors
    (kept = true) to k_corpus_dedup_pipeline for the banded near-dup
    stage.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    g = d.select(
        "doc_id",
        h.alias("h"),
        (n_tok.between(20, 1000) & (ttr > 0.2)).alias("q_pass"),
    )
    # window-free keeper: min over the q_pass rows per hash via
    # groupBy + LEFT null-safe join back — identical to the old
    # min(when(q_pass, doc_id)) OVER (PARTITION BY h) including its
    # null cases (a group with no q_pass member, or a null hash, gets
    # a null keeper), but a mega duplicate family partial-combines
    # instead of pinning one window task.
    keepers = (
        g.where(F.col("q_pass"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"))
        .withColumnRenamed("h", "kh")
    )
    k = g.join(keepers, F.expr("h <=> kh"), "left").drop("kh")
    return k.select(
        "doc_id",
        (F.col("q_pass") & (F.col("doc_id") == F.col("keeper"))).alias("kept"),
        F.when(~F.col("q_pass"), "low_quality")
        .when(F.col("doc_id") != F.col("keeper"), "exact_dup")
        .otherwise("kept")
        .alias("reason"),
    )


@register(
    "k_anonymity_check",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           count(*) AS group_size,
           count(*) < 5 AS violates_k5
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    gate a training-data release runs after PII scrubbing
    (k_pii_scrub removes direct identifiers; this catches
    re-identification by attribute combination): any (segment, nation)
    cell with fewer than k=5 members is a linkage risk and must be
    suppressed or generalized before export. Returns every cell with
    its size and violation flag so the caller can both enforce
    (anti-join the violating cells) and report attrition.

    One hash aggregation on the quasi-identifier tuple — the same
    uniform-key group-by shape as k_exact_dedup; at 100 TB the cell
    count is bounded by the QI domain product, not the row count, so
    the output stays dashboard-sized. The k threshold compares exact
    integers — nothing can flip between engines.
    """
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("group_size"),
        (F.count("*") < 5).alias("violates_k5"),
    )


# --- shared tokenizer plumbing (k_tokenize_to_ids / k_tokenize_capped_vocab)
# The two tokenizers MUST share one vocabulary ranking and one
# reassembly expression — the capped op is pinned as an exact projection
# of the full one (tests/test_properties.py), so the common pieces live
# here once instead of being maintained by hand in both bodies.


def _token_counts(d: DataFrame) -> DataFrame:
    """Per-token corpus frequency over whitespace-split text."""
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )


def _ranked_vocab(tc: DataFrame) -> DataFrame:
    """Frequency-ranked vocabulary (id 1 = most frequent, ties broken by
    token — the k_vocab_coverage order) via the distributed
    global_row_number: corpus-sublinear table, never a single-task
    window."""
    from ..operators.relational import global_row_number

    return global_row_number(tc, F.col("cnt").desc(), "tok", parts=8).select(
        "tok", F.col("rn").alias("id")
    )


def _doc_token_positions(d: DataFrame) -> DataFrame:
    """(doc_id, position, token) rows for every document."""
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )


def _ids_concat(id_col):
    """Deterministic per-doc id-sequence reassembly: one doc_id-keyed
    collect_list wrapped in array_sort on (pos, id) — order by
    construction, not by shuffle luck — then comma-joined (array cells
    crash the driver canonicalizer)."""
    return F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", id_col.alias("id")))),
            lambda s: s["id"].cast("string"),
        ),
    )


@register(
    "k_tokenize_to_ids",
    oracle="""
    WITH tc AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ),
    vocab AS (
        SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS id
        FROM tc
    ),
    pos AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           array_to_string(list(v.id ORDER BY p.i), ',') AS ids
    FROM pos p JOIN vocab v ON v.tok = p.tok
    GROUP BY p.doc_id
    """,
)
def k_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-to-id encoding — the final text->ints step before
    k_chunk_documents / k_pack_sequences: ids come from the frequency-
    ranked vocabulary (rank 1 = most frequent, ties broken by token, the
    k_vocab_coverage order), and every document is re-emitted as its
    ordered id sequence (comma-joined — array cells crash the driver
    canonicalizer).

    Scale shape: the vocab is built with one token count agg and ranked
    with the distributed global_row_number (corpus-sublinear table, but
    never a single-task window); the id lookup is an UNHINTED join from
    tokens to vocab — a hand-curated vocab fits in memory, but THIS
    vocab is every distinct corpus token, which grows by Heaps' law
    (typos, URLs, numbers) and at web scale runs to billions of rows, so
    a hard ``F.broadcast`` would force an executor OOM. Catalyst
    broadcasts the vocab while it is under ``autoBroadcastJoinThreshold``
    (the local win); above it the lookup plans as a uniform `tok`-keyed
    shuffled equi-join that AQE may still runtime-promote. The sequence
    reassembly is one doc_id-keyed collect_list wrapped in array_sort on
    (pos, id) — deterministic order by construction, not by shuffle luck.
    """
    d = load(spark, sf_dir, "documents")
    vocab = _ranked_vocab(_token_counts(d))
    pos = _doc_token_positions(d)
    return (
        pos.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            _ids_concat(F.col("id")).alias("ids"),
        )
    )


# Top-N cap for the production-vocab tokenizer below. 16 < the 31
# distinct fixture tokens, so the OOV path is exercised at every SF.
VOCAB_TOP_N = 16


@register(
    "k_tokenize_capped_vocab",
    oracle=f"""
    WITH tc AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ),
    vocab AS (
        SELECT tok, id FROM (
            SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS id
            FROM tc
        ) WHERE id <= {VOCAB_TOP_N}
    ),
    pos AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           array_to_string(list(coalesce(v.id, 0) ORDER BY p.i), ',') AS ids
    FROM pos p LEFT JOIN vocab v ON v.tok = p.tok
    GROUP BY p.doc_id
    """,
)
def k_tokenize_capped_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-to-id encoding with a CAPPED top-N vocabulary and an OOV
    bucket — the production counterpart of `k_tokenize_to_ids`: real
    tokenizers never ship the full Heaps-law distinct-token table; they
    cap the vocab at a fixed budget (top `VOCAB_TOP_N` by frequency,
    ties broken by token) and map everything else to a reserved OOV id
    (0 here). Emits the per-doc id sequence plus the OOV count — the
    signal a vocab-budget sweep reads (cf. k_vocab_coverage).

    Scale shape: the cap makes the broadcast side bounded BY
    CONSTRUCTION — ≤ VOCAB_TOP_N rows regardless of corpus size — so
    (unlike the uncapped sibling, whose vocab side must stay unhinted)
    the hard `F.broadcast` hint is correct at any scale: class `cap` in
    the broadcast-site inventory. The top-N itself is selected with the
    distributed global_row_number + rank filter, never a single-task
    window over the distinct-token table. OOV rows survive via the LEFT
    join + coalesce(id, 0); reassembly is the same deterministic
    array_sort-on-(pos, id) collect as the sibling.
    """
    d = load(spark, sf_dir, "documents")
    vocab = _ranked_vocab(_token_counts(d)).where(F.col("id") <= VOCAB_TOP_N)
    pos = _doc_token_positions(d)
    return (
        pos.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            _ids_concat(F.coalesce("id", F.lit(0))).alias("ids"),
        )
    )


@register(
    "k_dedup_keep_best",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    comps AS (
        SELECT node AS doc_id, min(lab) AS comp FROM reach GROUP BY node
    )
    SELECT c.doc_id, c.comp, d.n_chars,
           row_number() OVER (PARTITION BY c.comp
                              ORDER BY d.n_chars DESC, c.doc_id) = 1 AS keep
    FROM comps c JOIN documents d USING (doc_id)
    """,
)
def k_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keep policy: within each near-dup cluster
    (the k_dedup_components graph), keep the BEST document — here
    longest-first (n_chars DESC, doc_id tiebreak), the keep-longest
    policy most corpus builds use — instead of min-doc_id. Decouples
    cluster RESOLUTION (label propagation) from keeper SELECTION
    (any scoring column: quality score, source priority, recency —
    swap the ORDER BY), which is exactly how a production pass
    parameterizes it.

    Keeper selection is top-1-per-component — an AGGREGATE in
    disguise, so it rides max_by + join back (the e_dedupe_latest
    form) instead of a comp-partitioned row_number window: a
    boilerplate mega-family that survives to one giant component is
    exactly the degenerate case this repo's dedup stack guards
    against, and a window would pin that component's whole member set
    to one sort task while max_by partial-combines and the join is
    AQE-splittable. Order mirrored exactly: n_chars DESC with doc_id
    ASC tiebreak == max_by over the (n_chars, -doc_id) struct.
    """
    comps = k_dedup_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = comps.join(d, "doc_id")
    best = scored.groupBy("comp").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_nid")),
        ).alias("_best_id")
    )
    return (
        scored.join(best, "comp")
        .withColumn("keep", F.col("doc_id") == F.col("_best_id"))
        .select("doc_id", "comp", "n_chars", "keep")
    )


@register(
    "k_cluster_size_histogram",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    comps AS (
        SELECT node AS doc_id, min(lab) AS comp FROM reach GROUP BY node
    ),
    sizes AS (
        SELECT comp, count(*) AS csize FROM comps GROUP BY comp
    )
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(csize * count(*) AS BIGINT) AS n_docs,
           CAST((csize - 1) * count(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY csize
    """,
)
def k_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the corpus-health dashboard
    behind any dedup run: how many singletons vs small clusters vs
    boilerplate blobs, and how many docs a keep-one-per-cluster pass
    would remove (n_removable = (size-1) per cluster). A sudden fat
    tail here is the first sign of a template flood or a scraped
    mirror entering the corpus.

    Composes k_dedup_components (LSH candidates -> exact verify ->
    label propagation) with two tiny aggregations; output is
    histogram-sized.
    """
    comps = k_dedup_components(spark, sf_dir)
    sizes = comps.groupBy("comp").agg(F.count("*").alias("csize"))
    return sizes.groupBy("csize").agg(F.count("*").alias("n_clusters")).select(
        F.col("csize").alias("cluster_size"),
        "n_clusters",
        (F.col("csize") * F.col("n_clusters")).alias("n_docs"),
        ((F.col("csize") - 1) * F.col("n_clusters")).alias("n_removable"),
    )


def _incremental_dedup_oracle() -> str:
    from .dedup import _BAND_CAND_CTES

    return f"""
    WITH {_BAND_CAND_CTES},
    inc_norm AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM documents
    ),
    inc_tset AS (
        SELECT doc_id,
               list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
        FROM documents
    ),
    exact_dup AS (
        SELECT DISTINCT n.doc_id
        FROM inc_norm n JOIN inc_norm e ON n.h = e.h AND e.doc_id % 10 <> 0
        WHERE n.doc_id % 10 = 0
    ),
    cross_cand AS (
        SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
               CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS old_id
        FROM band_cand WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
    ),
    near_dup AS (
        SELECT DISTINCT c.new_id AS doc_id
        FROM cross_cand c
        JOIN inc_tset a ON a.doc_id = c.new_id
        JOIN inc_tset b ON b.doc_id = c.old_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / len(list_distinct(list_concat(a.t, b.t))) >= 0.6
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
                WHEN nd.doc_id IS NOT NULL THEN 'dup_near'
                ELSE 'keep' END AS label
    FROM documents d
    LEFT JOIN exact_dup e ON e.doc_id = d.doc_id
    LEFT JOIN near_dup nd ON nd.doc_id = d.doc_id
    WHERE d.doc_id % 10 = 0
    """


@register("k_incremental_dedup", oracle=_incremental_dedup_oracle())
def k_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup — the daily-ingest reality
    k_corpus_dedup_pipeline's full-rebuild form doesn't cover: a new
    batch (doc_id % 10 == 0 stands in for today's crawl) is deduped
    against the EXISTING corpus without re-comparing existing docs to
    each other. Each new doc gets keep / dup_exact (normalized-hash
    match against history) / dup_near (banded-MinHash candidate against
    history, verified at Jaccard >= 0.6), exact taking precedence.

    Scale design: this is why the corpus pipeline persists its hash and
    signature columns — incremental dedup is two hash-keyed joins of
    the NEW batch against stored indexes (here recomputed from the
    fixture; in production read from the signature store), and the
    banding join only ever emits new-x-existing candidate pairs for
    verification. Cost scales with the increment times collision rate,
    never with history size re-pairing itself. The exact-hash join keys
    on uniform md5 (at extreme history sizes, a bloom/broadcast
    prefilter of new-batch hashes cuts the shuffle).
    """
    from .dedup import band_candidate_pairs, exact_jaccard_scores, normalized_text

    d = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    hashes = d.select("doc_id", F.md5(normalized_text().cast("binary")).alias("h"))
    new_h = hashes.where(is_new)
    old_h = hashes.where(~is_new).select(F.col("h").alias("h_old")).distinct()
    exact_dup = (
        new_h.join(old_h, new_h.h == old_h.h_old, "left_semi")
        .select("doc_id")
        .distinct()
    )

    cand = band_candidate_pairs(d).where(
        (F.col("doc_a") % 10 == 0) != (F.col("doc_b") % 10 == 0)
    )
    # doc_a is the new doc, doc_b the existing one
    cross = cand.select(
        F.when(F.col("doc_a") % 10 == 0, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_a"),
        F.when(F.col("doc_a") % 10 == 0, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_b"),
    )
    tsets = d.select(
        "doc_id", F.array_distinct(F.split(normalized_text(), " ")).alias("t")
    )
    # Only the new doc's id is kept, so the optimized plan computes the
    # intersection twice per candidate, both times in the second fetch
    # join's condition.
    near_dup = (
        exact_jaccard_scores(tsets, cross, "t", min_jaccard=0.6)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )

    new_docs = d.where(is_new).select("doc_id")
    return (
        new_docs.join(exact_dup.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near_dup.withColumn("_n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), "dup_exact")
            .when(F.col("_n").isNotNull(), "dup_near")
            .otherwise("keep")
            .alias("label"),
        )
    )


def _corpus_build_oracle() -> str:
    # mirror the engine's bucket-width star cap, its salted chains and
    # the chunked chain ordering via the SHARED _band_cand_ctes builder
    # with src='surv': a hand-rolled copy of those CTEs here once lagged
    # a change of the chunk scheme
    from .dedup import _band_cand_ctes

    return f"""
    WITH RECURSIVE gate AS (
        SELECT doc_id, lang, source, text,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
               (len(string_split(text, ' ')) BETWEEN 20 AND 1000
                AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')) > 0.2) AS q_pass
        FROM documents
    ),
    keepmap AS (
        SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper
        FROM gate WHERE q_pass
    ),
    surv AS (SELECT * FROM keepmap WHERE doc_id = keeper),
    {_band_cand_ctes(src="surv")},
    tsets AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
        FROM surv
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM band_cand c
        JOIN tsets a ON a.doc_id = c.doc_a
        JOIN tsets b ON b.doc_id = c.doc_b
        WHERE a.lang = b.lang
          AND CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM surv
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lab) AS canonical FROM reach GROUP BY node),
    kept AS (
        SELECT s.doc_id, s.source FROM surv s
        JOIN comp c ON c.doc_id = s.doc_id AND c.canonical = s.doc_id
    ),
    cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY source),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    wts AS (
        SELECT source,
               CAST(round(power(CAST(c AS DOUBLE) / (SELECT n FROM tot), 0.7)
                          * 1000000.0) AS BIGINT) AS w_e6
        FROM cnt
    ),
    tw AS (SELECT CAST(sum(w_e6) AS BIGINT) AS sw FROM wts),
    quota AS (
        SELECT source,
               CAST(round(150.0 * w_e6 / (SELECT sw FROM tw)) AS BIGINT) AS n_keep
        FROM wts
    ),
    sampled AS (
        SELECT doc_id, source FROM (
            SELECT k.doc_id, k.source, q.n_keep,
                   row_number() OVER (
                       PARTITION BY k.source
                       ORDER BY md5('build:' || CAST(k.doc_id AS VARCHAR)), k.doc_id
                   ) AS rn
            FROM kept k JOIN quota q USING (source)
        ) WHERE rn <= n_keep
    )
    SELECT row_number() OVER (
               ORDER BY md5('build:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS ord,
           doc_id, source
    FROM sampled
    """


@register("k_corpus_build_pipeline", oracle=_corpus_build_oracle())
def k_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE corpus build — every stage a production
    pre-training data run chains, as ONE dataflow, each stage keeping
    its operator's proven scale shape:

      1. quality gate (k_quality_score's length band + TTR floor,
         map-only),
      2. exact dedup among gate survivors (`exact_keepers` on the
         normalized hash),
      3. near-dup connected components among exact survivors (banded
         md5-MinHash candidates -> exact Jaccard >= 0.6 verify ->
         `min_label_components`; candidates only ever come from band
         buckets, never all-pairs),
      4. temperature-scaled source mixture over the kept set
         (k_temperature_mixture's p^0.7 rule with the e6-quantized
         normalizer, 150-doc budget),
      5. deterministic md5 training order via the DISTRIBUTED global
         rank (k_corpus_shuffle's rule — no single-partition window).

    Output: the final training manifest (ord, doc_id, source). The
    oracle replays all five stages in one recursive-CTE SQL chain —
    the whole pipeline, not just its pieces, is value-hash-checked.
    Every cross-engine hazard in the composition is one this repo has
    already neutralized stage-by-stage: md5 hash family, e6 weight
    quantization, unique-key rank tiebreaks.

    At 100 TB: stages 1-2 are one scan + one hash keeper aggregate;
    stage 3 runs on the survivor set with banded equi-join candidates;
    stage 4's tables are source-domain-bounded; stage 5 is the
    range-partitioned global rank. Nothing materializes on the driver but component
    convergence scalars and the source quota map.
    """
    from ..operators.relational import global_row_number, grouped_row_number
    from .dedup import band_candidate_pairs, normalized_text

    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    gate = d.select(
        "doc_id", "lang", "source", "text",
        F.md5(normalized_text().cast("binary")).alias("h"),
    ).where(n_tok.between(20, 1000) & (ttr > 0.2))

    surv = exact_keepers(gate, "h").where(F.col("doc_id") == F.col("exact_keeper"))

    cand = band_candidate_pairs(surv.select("doc_id", "text"))
    tsets = surv.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("tset")
    )
    # shared exact scorer: identical joins plus the
    # union arithmetic — see k_corpus_dedup_pipeline's note; tset is
    # array_distinct output
    from .dedup import exact_jaccard_scores

    pairs = exact_jaccard_scores(
        tsets, cand, "tset", min_jaccard=0.6, same_lang=True
    ).select("doc_a", "doc_b")
    comp = min_label_components(surv, pairs)
    kept = (
        surv.join(
            comp.where(F.col("comp") == F.col("doc_id")).select("doc_id"), "doc_id"
        )
        .select("doc_id", "source")
    )

    cnt = kept.groupBy("source").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    wts = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            F.pow(F.col("c").cast("double") / F.col("n").cast("double"), 0.7)
            * 1000000.0
        ).cast("long").alias("w_e6"),
    )
    tw = wts.agg(F.sum("w_e6").alias("sw"))
    quota = wts.crossJoin(F.broadcast(tw)).select(
        "source",
        F.round(F.lit(150.0) * F.col("w_e6") / F.col("sw")).cast("long").alias("n_keep"),
    )
    order_key = F.md5(
        F.concat(F.lit("build:"), F.col("doc_id").cast("string")).cast("binary")
    )
    # grouped rank: n_keep is join-derived, so WindowGroupLimit
    # cannot bound a source-partitioned window — see k_domain_mixture.
    sampled = (
        grouped_row_number(kept, ["source"], [order_key, "doc_id"])
        .join(F.broadcast(quota), "source")
        .where(F.col("grn") <= F.col("n_keep"))
        .select("doc_id", "source")
    )
    ranked = global_row_number(
        sampled.withColumn("_ok", order_key), F.asc("_ok"), F.asc("doc_id")
    )
    return ranked.select(F.col("rn").alias("ord"), "doc_id", "source")


@register(
    "k_mlm_mask",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
    ),
    coded AS (
        SELECT doc_id, toks,
               list_transform(range(1, len(toks) + 1), i -> CASE
                   WHEN ('0x' || substr(md5('mlm:' || doc_id || ':' || i), 1, 15))
                        ::BIGINT % 100 >= 15 THEN 0
                   WHEN (('0x' || substr(md5('mlm:' || doc_id || ':' || i), 1, 15))
                         ::BIGINT // 100) % 10 < 8 THEN 1
                   WHEN (('0x' || substr(md5('mlm:' || doc_id || ':' || i), 1, 15))
                         ::BIGINT // 100) % 10 = 8
                        THEN 10 + ((('0x' || substr(md5('mlm:' || doc_id || ':' || i),
                                                    1, 15))::BIGINT // 1000)
                                   % len(toks)) + 1
                   ELSE 2 END) AS codes
        FROM base
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(codes, c -> c != 0)) AS BIGINT)  AS n_masked,
           CAST(len(list_filter(codes, c -> c = 1)) AS BIGINT)   AS n_mask_tok,
           CAST(len(list_filter(codes, c -> c >= 10)) AS BIGINT) AS n_random,
           CAST(len(list_filter(codes, c -> c = 2)) AS BIGINT)   AS n_keep,
           md5(array_to_string(
               list_transform(codes, (c, i) -> CASE
                   WHEN c = 1 THEN '[MASK]'
                   WHEN c >= 10 THEN toks[c - 10]
                   ELSE toks[i] END), ' ')) AS masked_md5
    FROM coded
    """,
)
def k_mlm_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style masked-LM data prep: 15% of token positions are
    selected, and a selected position becomes ``[MASK]`` with p=0.8, a
    random in-document token with p=0.1, or stays unchanged with p=0.1
    (Devlin et al. 2018 §3.1 proportions).

    Every random choice derives from md5("mlm:"||doc_id||":"||pos) —
    the k_augment_token_dropout rule: `rand()` could never be
    oracle-checked, breaks resume-from-checkpoint reproducibility, and
    re-rolls masks between epochs unless seeded per position anyway.
    The DuckDB oracle replays the identical arithmetic and the FULL
    masked sequence is compared via md5, so a single off-by-one in any
    position's decision breaks the hash.

    Plan shape: map-only — one projection of JVM higher-order
    functions (two `transform` passes: decisions coded once per
    position, then the output token resolved by indexed lambda, so
    the md5 family is evaluated once, not once per output pass), zero
    shuffles, embarrassing parallelism at 100 TB. Lambda index seam:
    Spark's two-arg transform index is 0-based, DuckDB's is 1-based —
    both sides resolve the original token at the SAME 1-based
    position.
    """
    d = load(spark, sf_dir, "documents")
    u = (
        "cast(conv(substr(md5(concat('mlm:', cast(doc_id as string), ':',"
        " cast(i as string))), 1, 15), 16, 10) as bigint)"
    )
    coded = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
    ).withColumn(
        "codes",
        F.expr(
            f"""transform(sequence(1, size(toks)), i -> CASE
                WHEN {u} % 100 >= 15 THEN 0
                WHEN ({u} div 100) % 10 < 8 THEN 1
                WHEN ({u} div 100) % 10 = 8
                     THEN 10 + (({u} div 1000) % size(toks)) + 1
                ELSE 2 END)"""
        ),
    )
    return coded.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.expr("cast(size(filter(codes, c -> c != 0)) as bigint)").alias("n_masked"),
        F.expr("cast(size(filter(codes, c -> c = 1)) as bigint)").alias("n_mask_tok"),
        F.expr("cast(size(filter(codes, c -> c >= 10)) as bigint)").alias("n_random"),
        F.expr("cast(size(filter(codes, c -> c = 2)) as bigint)").alias("n_keep"),
        F.md5(
            F.expr(
                """concat_ws(' ', transform(codes, (c, i) -> CASE
                    WHEN c = 1 THEN '[MASK]'
                    WHEN c >= 10 THEN element_at(toks, cast(c - 10 as int))
                    ELSE element_at(toks, i + 1) END))"""
            )
        ).alias("masked_md5"),
    )


@register(
    "k_span_corruption",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
    ),
    coded AS (
        SELECT doc_id, toks,
               list_transform(range(1, len(toks) + 1), i -> CASE
                   WHEN ('0x' || substr(md5('span:' || doc_id || ':' || i), 1, 15))
                        ::BIGINT % 100 < 5 THEN 1
                   WHEN (i > 1 AND ('0x' || substr(md5('span:' || doc_id || ':'
                                                       || (i - 1)), 1, 15))
                                   ::BIGINT % 100 < 5)
                     OR (i > 2 AND ('0x' || substr(md5('span:' || doc_id || ':'
                                                       || (i - 2)), 1, 15))
                                   ::BIGINT % 100 < 5) THEN 2
                   ELSE 0 END) AS codes
        FROM base
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                              AS n_tokens,
           CAST(len(list_filter(codes, c -> c = 1)) AS BIGINT)    AS n_spans,
           CAST(len(list_filter(codes, c -> c != 0)) AS BIGINT)   AS n_corrupted,
           md5(coalesce(array_to_string(
               list_filter(
                   list_transform(codes, (c, i) -> CASE
                       WHEN c = 0 THEN toks[i]
                       WHEN c = 1 THEN '<extra_id>'
                       ELSE '' END),
                   t -> t != ''), ' '), ''))                       AS corrupted_md5,
           md5(coalesce(array_to_string(
               flatten(list_transform(codes, (c, i) -> CASE
                   WHEN c = 1 THEN ['<extra_id>', toks[i]]
                   WHEN c = 2 THEN [toks[i]]
                   ELSE [] END)), ' '), ''))                       AS target_md5
    FROM coded
    """,
)
def k_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4): ~5% of
    positions start a 3-token corruption span; the span's first
    position becomes a sentinel in the INPUT sequence, its remaining
    positions are dropped, and the TARGET sequence is the
    sentinel-delimited concatenation of the dropped spans — the
    denoising objective's full (input, target) pair, both checked by
    whole-sequence md5.

    Span membership is a pure per-position function (is position i a
    start, or within 2 of one?), so the whole op stays a map-only
    projection of higher-order lambdas — no explode, no sessionizing
    pass to find span runs. Overlapping starts degenerate gracefully
    (a start inside a span re-opens a sentinel) and the md5 oracle
    replays the identical rule, so the behavior is pinned rather than
    left to an implementation accident. Deterministic
    md5("span:"||doc_id||":"||pos) decisions for the k_mlm_mask
    reasons: reproducible across epochs/restarts and oracle-checkable
    where rand() is neither. Sentinels are the unnumbered
    '<extra_id>' form; numbered sentinels need a per-position prefix
    count of starts — an O(n) `aggregate` lambda per doc, semantics
    unchanged.
    """
    d = load(spark, sf_dir, "documents")
    start = (
        "cast(conv(substr(md5(concat('span:', cast(doc_id as string), ':',"
        " cast({pos} as string))), 1, 15), 16, 10) as bigint) % 100 < 5"
    )
    coded = d.select("doc_id", F.split("text", " ").alias("toks")).withColumn(
        "codes",
        F.expr(
            f"""transform(sequence(1, size(toks)), i -> CASE
                WHEN {start.format(pos='i')} THEN 1
                WHEN (i > 1 AND {start.format(pos='(i - 1)')})
                  OR (i > 2 AND {start.format(pos='(i - 2)')}) THEN 2
                ELSE 0 END)"""
        ),
    )
    return coded.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.expr("cast(size(filter(codes, c -> c = 1)) as bigint)").alias("n_spans"),
        F.expr("cast(size(filter(codes, c -> c != 0)) as bigint)").alias(
            "n_corrupted"
        ),
        F.md5(
            F.expr(
                """concat_ws(' ', filter(
                       transform(codes, (c, i) -> CASE
                           WHEN c = 0 THEN element_at(toks, i + 1)
                           WHEN c = 1 THEN '<extra_id>'
                           ELSE '' END),
                       t -> t != ''))"""
            )
        ).alias("corrupted_md5"),
        F.md5(
            F.expr(
                """concat_ws(' ', flatten(transform(codes, (c, i) -> CASE
                       WHEN c = 1 THEN array('<extra_id>', element_at(toks, i + 1))
                       WHEN c = 2 THEN array(element_at(toks, i + 1))
                       ELSE array() END)))"""
            )
        ).alias("target_md5"),
    )


def _corpus_dedup_winnow_oracle() -> str:
    """DuckDB twin of `k_corpus_dedup_winnow`: exact dedup (group-by
    keeper, mirroring the engine's window-free form), then BOTH banded
    candidate sources over the survivors — md5-MinHash bands
    (dedup._band_cand_ctes, src='surv') and winnow fingerprints
    (dedup._winnow_cand_ctes, src='surv') — unioned, exact-verified,
    and resolved to connected components. Reusing the two shared CTE
    builders keeps this oracle bit-synchronized with the primitives'
    own oracles (caps, chunked chains, null handling and all)."""
    from .dedup import LSH_BUCKET_CAP, _band_cand_ctes, _winnow_cand_ctes

    return f"""
    WITH RECURSIVE norm AS (
        SELECT doc_id, lang, text,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS ch
        FROM documents
        WHERE text IS NOT NULL
    ),
    keepers AS (
        SELECT ch, min(doc_id) AS exact_keeper FROM norm GROUP BY ch
    ),
    keepmap AS (
        SELECT n.doc_id, n.lang, n.text, k.exact_keeper
        FROM norm n JOIN keepers k USING (ch)
    ),
    surv AS (
        SELECT doc_id, lang, text FROM keepmap WHERE doc_id = exact_keeper
    ),
    {_band_cand_ctes(src="surv")},
    {_winnow_cand_ctes(cap=LSH_BUCKET_CAP, src="surv")},
    cand AS (
        SELECT doc_a, doc_b FROM band_cand
        UNION
        SELECT doc_a, doc_b FROM winnow_cand
    ),
    vtoks AS (
        SELECT s.doc_id, s.lang,
               list_distinct(string_split(s.text, ' ')) AS tset,
               list_distinct(hs.hashes) AS sset
        FROM surv s JOIN h hs ON hs.doc_id = s.doc_id
    ),
    vpairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN vtoks a ON a.doc_id = c.doc_a
        JOIN vtoks b ON b.doc_id = c.doc_b
        WHERE a.lang = b.lang
          AND (CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.tset, b.tset))) >= 0.6
               OR CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                   / least(len(a.sset), len(b.sset)) >= 0.5)
    ),
    vedges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION ALL
        SELECT doc_b, doc_a FROM vpairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM surv
        UNION
        SELECT e.b, r.lab FROM reach r JOIN vedges e ON e.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, min(lab) AS canonical_id FROM reach GROUP BY node
    )
    SELECT k.doc_id,
           c.canonical_id,
           (k.doc_id = k.exact_keeper AND c.canonical_id = k.doc_id) AS kept,
           CASE WHEN k.doc_id <> k.exact_keeper THEN 'exact_dup'
                WHEN c.canonical_id <> k.doc_id THEN 'near_dup'
                ELSE 'kept' END AS reason
    FROM keepmap k JOIN comp c ON c.doc_id = k.exact_keeper
    """


@register("k_corpus_dedup_winnow", oracle=_corpus_dedup_winnow_oracle())
def k_corpus_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup with a TWO-SOURCE candidate stage: exact dedup, then
    near-dup edges proposed by the union of (a) md5-MinHash LSH bands
    — whole-document similarity — and (b) winnow fingerprint buckets
    — shared exact >= 8-token runs, the partial-containment signal
    whole-doc MinHash dilutes away on long documents. A pair from
    EITHER source survives when the exact verify passes: token-set
    Jaccard >= 0.6 (the similarity family's edge) OR 5-token-shingle
    containment |S_A ∩ S_B| / min(|S_A|, |S_B|) >= 0.5 (the
    quoted-passage / boilerplate-splice edge only the winnow source
    reliably proposes). Containment is measured in SHINGLE space,
    matching the winnow fingerprints' own granularity: on the fixture's
    small unigram vocabulary, token-set containment is ~1 for almost
    every pair (measured: 494/500 docs in one cluster), while shingle
    containment is sharply bimodal (25 true containment pairs at
    sf0.01, nothing between 0.3 and 0.9).
    Verified edges resolve to connected components
    (`min_label_components`) and every doc gets its `dedup_verdicts`
    row — the same contract as `k_corpus_dedup_pipeline`, which this op
    extends with the second candidate family. Both candidate sources
    here are banded equi-joins behind the shared capped star +
    chunked-chain skew guard, mirrored CTE-for-CTE by the oracle.

    Null-text docs are excluded up front on both engines: Spark would
    md5 them via concat_ws(''), while DuckDB's md5 propagates NULL.
    """
    from .dedup import band_candidate_pairs, pair_sides, winnow_candidate_pairs

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ch = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    keepmap = exact_keepers(d.select("doc_id", "lang", "text", ch.alias("ch")), "ch")
    surv = keepmap.where(F.col("doc_id") == F.col("exact_keeper"))

    sdocs = surv.select("doc_id", "text")
    cand = (
        band_candidate_pairs(sdocs)
        .unionByName(winnow_candidate_pairs(sdocs))
        .distinct()
        .repartition(64, F.col("doc_a"))
    )
    from .textstats import shingle_hashes

    shingles = F.array_distinct(shingle_hashes(F.col("text")))
    toks = (
        surv.select(
            "doc_id",
            "lang",
            F.array_distinct(F.split("text", " ")).alias("tset"),
            shingles.alias("sset"),
        )
        .withColumn("nt", F.size("tset"))
        .withColumn("ns", F.size("sset"))
    )
    # Token and shingle sets arrive in one fetch (pair_sides), |a ∪ b| as
    # |a|+|b|-|a∩b| (tset/sset are array_distinct output — exact).
    # Catalyst substitutes _jint/_cint into the OR-of-thresholds predicate
    # and pushes it into the second fetch join's condition after the
    # language equality: the optimized plan computes the token
    # intersection twice and the shingle intersection once per
    # candidate, all in that condition; the projection is pruned.
    jint = F.size(F.array_intersect("tset_a", "tset_b"))
    cint = F.size(F.array_intersect("sset_a", "sset_b"))
    scored = (
        pair_sides(cand, toks)
        .where(F.col("lang_a") == F.col("lang_b"))
        .select(
            "doc_a", "doc_b", "nt_a", "nt_b", "ns_a", "ns_b",
            jint.alias("_jint"),
            cint.alias("_cint"),
        )
    )
    jac = F.col("_jint").cast("double") / (
        F.col("nt_a") + F.col("nt_b") - F.col("_jint")
    )
    cont = F.col("_cint").cast("double") / F.least("ns_a", "ns_b")
    pairs = (
        scored.where((jac >= 0.6) | (cont >= 0.5))
        .select("doc_a", "doc_b")
    )
    return dedup_verdicts(keepmap, min_label_components(surv, pairs))
