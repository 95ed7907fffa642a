"""Embedding similarity search (SURVEY.md §2-K): exact cosine top-k,
k-NN for a query vector, embedding near-dup pairs, and an LSH/IVF-style
bucketed ANN variant as the scale path.

Design for 100 TB: the exact all-pairs path is block-PAIR-wise — the
table is hashed into B blocks, every unordered block pair (bi <= bj)
becomes one group of a single grouped map, and each group computes its
block x block similarity tile with a single numpy matmul (BLAS) and
emits only its local top-k / above-threshold pairs. Nothing is ever
materialized on the driver (round-1 used a driver-side toPandas +
broadcast — a driver OOM at scale); the one shuffle carries each row B
times (one copy per block pair it belongs to), which is O(n*B) rows,
never the O(n^2) pair set. The ANN path cuts candidate generation to
same-bucket joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import (
    display_q6,
    quantize_e6,
    sql_display_q6,
    sql_quantize_e6,
)
from ..registry import register
from ..schemas import EMBEDDING_DIM
from ..sources.io import load, local_rows

_TOPK_SCHEMA = "vec_a long, vec_b long, sim double"


def _dot_chain_sql(a: str, b: str, dims: int = 64) -> str:
    """Left-associated explicit dot product over 1-based DuckDB list
    indexing — the same association order as Spark's sequential
    ``F.aggregate`` fold, so the resulting double is bit-identical
    across engines (the `_rp_chain` technique, extended to products;
    `list_cosine_similarity` sums in an engine-private order
    and its quotient can land on the opposite side of a rounding
    boundary from Spark's fold)."""
    return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dims + 1)) + ")"


def _fold_dot(a, b):
    """Spark-side left-associated dot product fold — the ONE spelling of
    the construct whose exact shape (zip_with product, 0.0 seed,
    sequential acc + x) is load-bearing for cross-engine bit-identity
    with _dot_chain_sql. Every dot/norm in this module routes through
    here so the association order cannot silently fork."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _fold_norm(v):
    """sqrt of the self-dot fold: term order and association identical
    to the historical `aggregate(v, 0.0, acc + x*x)` spelling (same
    terms x_i*x_i summed left-to-right), so converting a site to this
    helper is value-preserving bit-for-bit."""
    return F.sqrt(_fold_dot(v, v))




def _normalized_matrix(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, L2-normalized float64 matrix) from an embeddings pandas frame."""
    ids = rows["vec_id"].to_numpy()
    mat = np.vstack(rows["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms


_EMPTY_PAIRS = pd.DataFrame(
    {
        "vec_a": pd.array([], dtype="int64"),
        "vec_b": pd.array([], dtype="int64"),
        "sim": pd.array([], dtype="float64"),
    }
)


# Cache assumes the fixture under a given sf_dir is STATIC for the
# process lifetime (true for the driver/bench/test harnesses). If a
# path's embeddings were regenerated at a different scale in-process,
# the stale block count would void the ~128 MB tile bound — clear this
# dict (or pass cache_key=None) in such a flow.
_AUTO_BLOCK_CACHE: dict = {}


def _auto_blocks(
    emb: DataFrame, target_block_rows: int = 4096, cache_key: str | None = None
) -> int:
    """Data-dependent block count for `_block_pair_scores`: enough
    blocks that one block holds ~``target_block_rows`` vectors, so a
    tile's score matrix stays ~target^2 floats (~128 MB at 4096) no
    matter the corpus size. Floor of 4 keeps small inputs on the
    shape (and parallelism) the fixtures were validated with; ceiling
    of 256 bounds the O(n*B) replication — past that scale brute-force
    all-pairs is the wrong tool and the IVF path (k_ann_ivf) is the
    answer. Costs one count() of the (pruned) embedding scan; query
    builders pass their sf_dir as ``cache_key`` so repeated builds
    (bench reps, plan-only inspection, the oracle sweep) pay the count
    job once per source rather than once per invocation."""
    import math

    key = (cache_key, target_block_rows)
    if cache_key is not None and key in _AUTO_BLOCK_CACHE:
        return _AUTO_BLOCK_CACHE[key]
    n = emb.count()
    b = max(4, min(256, math.ceil(n / target_block_rows)))
    if cache_key is not None:
        _AUTO_BLOCK_CACHE[key] = b
    return b


def _block_pair_scores(emb: DataFrame, n_blocks: int, tile_fn):
    """Distributed all-pairs cosine scaffold: hash rows into ``n_blocks``
    blocks, score every unordered block pair in one group of a grouped
    map, and let ``tile_fn(diagonal, ids_a, ids_b, sims)`` reduce each
    similarity tile to the rows worth keeping (local top-k, threshold
    filter, ...).

    Each row of block ``blk`` is exploded on the JVM against every block
    ``other`` and keyed ``(least, greatest)``, so it joins the B groups of
    the pairs it belongs to, once each; the group (lo, hi) splits back
    into its ``blk == lo`` and ``blk == hi`` sides, the same rows on the
    diagonal (lo == hi), where the tile holds each pair twice and tile_fn
    must keep the strict upper triangle. Every unordered vector pair is
    scored in exactly one group, a group holds at most two blocks, and the
    one shuffle carries B copies of each row: O(n*B), not O(n^2), with no
    driver collect anywhere on the path.
    """
    blk = F.pmod(F.hash("vec_id"), F.lit(n_blocks)).cast("int")
    other = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    keyed = emb.select(
        "vec_id", "embedding", blk.alias("blk"), other.alias("other")
    ).select(
        F.least("blk", "other").alias("lo"),
        F.greatest("blk", "other").alias("hi"),
        "blk",
        "vec_id",
        "embedding",
    )

    def score_tile(key, rows):
        lo, hi = key
        side_a, side_b = rows[rows["blk"] == lo], rows[rows["blk"] == hi]
        if side_a.empty or side_b.empty:
            return _EMPTY_PAIRS
        ids_a, mat_a = _normalized_matrix(side_a)
        ids_b, mat_b = _normalized_matrix(side_b)
        sims = mat_a @ mat_b.T  # one BLAS call per tile
        return tile_fn(lo == hi, ids_a, ids_b, sims)

    return keyed.groupBy("lo", "hi").applyInPandas(score_tile, schema=_TOPK_SCHEMA)


@register(
    "k_similarity_topk",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY sim DESC, a.vec_id, b.vec_id
    LIMIT 10
    """,
)
def k_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most-similar embedding pairs by cosine.

    Block-pair exact search (see _block_pair_scores): each group of one
    grouped map scores one block x block tile with a single BLAS matmul
    and keeps its local top-k straight off the score matrix — the O(n^2)
    candidate set never materializes as rows, and (unlike round 1)
    nothing is collected to the driver. The global TakeOrderedAndProject
    sees at most k rows per block pair. B is data-dependent
    (`_auto_blocks`: ~4096 rows per block), so the same shape holds at
    100x the vectors, or swap in the IVF bucket path (k_ann_ivf) for
    candidate pruning.
    """
    k = 10

    def tile_topk(diagonal: bool, ids_a, ids_b, sims) -> pd.DataFrame:
        if diagonal:
            # same block on both sides: each unordered pair appears twice
            # in the tile — keep the strict upper triangle only
            sims = np.where(ids_a[:, None] >= ids_b[None, :], -np.inf, sims)
        flat = sims.ravel()
        kk = min(k, flat.size)
        idx = np.argpartition(flat, -kk)[-kk:]
        idx = idx[np.isfinite(flat[idx])]
        if idx.size == 0:
            return _EMPTY_PAIRS
        ai, bi = np.unravel_index(idx, sims.shape)
        va, vb = ids_a[ai], ids_b[bi]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "sim": flat[idx],
            }
        )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    local = _block_pair_scores(
        emb, n_blocks=_auto_blocks(emb, cache_key=sf_dir), tile_fn=tile_topk
    )
    return (
        local.withColumn("sim", F.round("sim", 6))
        .orderBy(F.col("sim").desc(), "vec_a", "vec_b")
        .limit(k)
    )


_KNN_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    p AS (
        SELECT vec_id, label, ev, sqrt({_dot_chain_sql("ev", "ev")}) AS nrm
        FROM base
    ),
    q AS (SELECT ev AS qv, nrm AS qnrm FROM p WHERE vec_id = 0)
    SELECT vec_id, label,
           {sql_display_q6(f'{_dot_chain_sql("p.ev", "q.qv")} / (p.nrm * q.qnrm)')} AS sim
    FROM p CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY sim DESC, vec_id
    LIMIT 10
"""


@register("k_knn_query", oracle=_KNN_ORACLE)
def k_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN of a single query vector (vec_id 0): broadcast the query,
    score with a JVM-side expression (zip_with dot product over float64),
    TakeOrderedAndProject keeps 10 rows per partition.

    Scoring is exact-by-construction (the k_ann_grid scheme, extended
    here in r8): both engines evaluate identical left-associated IEEE
    chains for dot and norm, then quantize the bit-identical cosine
    with floor(x*1e6 + 0.5)/1e6 — floor acts on the binary value in
    both engines, unlike round(), whose shortest-repr vs binary
    divergence was this query's residual hash hazard. Fixture outputs
    are value-identical to the old round(,6) form (no boundary-adjacent
    sims)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qd = F.transform(F.col("qv"), lambda x: x.cast("double"))
    cos = _fold_dot(e, qd) / (_fold_norm(e) * _fold_norm(qd))
    sim = display_q6(cos)
    return (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select("vec_id", "label", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "k_embed_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.9
    """,
)
def k_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= 0.9) — the semantic
    dedup primitive. Same block-pair matmul as k_similarity_topk but
    threshold-filtered inside the tile, so only actual near-dups ever
    leave the executor (and, unlike round 1, no driver-side collect)."""
    threshold = 0.9

    def tile_near_dup(diagonal: bool, ids_a, ids_b, sims) -> pd.DataFrame:
        ai, bj = np.nonzero(sims >= threshold)
        va, vb, sv = ids_a[ai], ids_b[bj], sims[ai, bj]
        if diagonal:
            keep = va < vb  # drop self-pairs + mirrored duplicates
            va, vb, sv = va[keep], vb[keep], sv[keep]
        return pd.DataFrame(
            {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb), "sim": sv}
        )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    local = _block_pair_scores(
        emb, n_blocks=_auto_blocks(emb, cache_key=sf_dir), tile_fn=tile_near_dup
    )
    return local.withColumn("sim", F.round("sim", 6))


@register(
    "k_centroid_per_label",
    oracle="""
    SELECT label, i AS dim, round(avg(embedding[i]), 6) AS centroid
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
    """,
)
def k_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the k-means update
    step that trains the IVF coarse quantizer (`k_ann_ivf`). posexplode
    fans each vector into (label, dim, value) rows, then one hash
    aggregate averages per cell; dims are emitted 1-based to match the
    oracle's list indexing.

    At 100 TB: the explode is map-side (no shuffle of the raw vectors);
    the single shuffle carries only partial (sum, count) pairs per
    (label, dim) — 64 x n_labels cells regardless of row count.
    """
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


@register(
    "k_embedding_quantize",
    oracle="""
    WITH err AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)
                            - floor(CAST(x AS DOUBLE) * 127 + 0.5) / 127)) AS e
        FROM embeddings
    )
    SELECT vec_id, label,
           round(list_max(e), 6) AS max_abs_err,
           round(list_sum(list_transform(e, v -> v * v)) / len(e), 8) AS mse
    FROM err
    """,
)
def k_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the vector
    compression step an ANN index runs before sharding (4x smaller
    vectors -> 4x more candidates per memory budget) — reported as
    per-vector reconstruction error (max abs + MSE), the metric that
    decides whether int8 recall is acceptable.

    Everything is a JVM higher-order function over the array column:
    quantize floor(x*127+0.5) (floor, not round — floor is defined
    identically in every engine, round's half-case is not), dequantize,
    per-element error, max/mean — map-only, zero shuffles, the vector
    never leaves its row and the output is 4 scalars per vector. Double
    math on both sides so the oracle matches bit-for-bit.
    """
    e = load(spark, sf_dir, "embeddings")
    err = F.transform(
        "embedding",
        lambda x: F.abs(
            x.cast("double")
            - F.floor(x.cast("double") * 127 + 0.5) / 127
        ),
    )
    return e.select(
        "vec_id",
        "label",
        F.round(F.array_max(err), 6).alias("max_abs_err"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, v: a + v * v) / F.size(err), 8
        ).alias("mse"),
    )


@register(
    "k_embed_dedup_components",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.9),
    edges AS (
        SELECT va AS a, vb AS b FROM pairs
        UNION ALL SELECT vb, va FROM pairs),
    reach(node, lab) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node)
    SELECT node AS vec_id, min(lab) AS comp FROM reach GROUP BY node
    """,
)
def k_embed_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end: connected components over the
    embedding-cosine near-dup graph (sim >= 0.9 edges from
    k_embed_near_dup's block-pair tiles), labeling every vector with
    min(vec_id) of its cluster — the embedding-space analog of
    k_dedup_components, for paraphrase/translation duplicates that
    token-level Jaccard cannot see. comp == vec_id marks the keeper.

    At 100 TB: edges come from the distributed block-pair matmul (or the
    IVF-bucketed variant when block count grows), never a driver-side
    similarity matrix; the components are `min_label_components`.
    """
    from .pipeline import min_label_components

    pairs = k_embed_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = load(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("doc_id"))
    return min_label_components(nodes, pairs).select(
        F.col("doc_id").alias("vec_id"), "comp"
    )


@register(
    "k_semantic_outlier",
    oracle="""
    WITH ev AS (
        SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) t(i)
    ),
    cell AS (
        SELECT label, i, round(avg(v), 6) AS c FROM ev GROUP BY label, i
    ),
    j AS (
        SELECT ev.vec_id, ev.label,
               sum(v * c) AS dot, sum(v * v) AS nv, sum(c * c) AS nc
        FROM ev JOIN cell USING (label, i)
        GROUP BY ev.vec_id, ev.label
    )
    SELECT vec_id, label,
           round(dot / (sqrt(nv) * sqrt(nc)), 6) AS sim,
           dot / (sqrt(nv) * sqrt(nc)) < 0.0 AS is_outlier
    FROM j
    """,
)
def k_semantic_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-conditional embedding outlier detection — the mislabeled /
    off-distribution sample sweep a training pipeline runs before
    fitting on labeled data: cosine of every vector against its OWN
    label's centroid; vectors pointing away from their class mean
    (sim < 0) are flagged. Complements k_embed_near_dup (which finds
    vectors too close to each other) by finding vectors too far from
    where they claim to belong.

    Shape: one posexplode -> (label, dim) hash agg builds the centroid
    cells (the k_centroid_per_label kernel, rounded at 6 so both
    engines fold the same constants), re-assembled into an ordered
    array per label, then a BROADCAST join back (centroid table is
    n_labels rows — bytes, not gigabytes) and a map-only zip_with fold
    for dot and norms. Net: one shuffle over (label, dim) partial
    sums + one broadcast — no vector ever shuffles twice.

    The outlier comparison runs on the unrounded quotient in both
    engines; a flip would need the true cosine within ~1e-15 of the
    0.0 threshold (ulp noise of a 64-term fold), which no fixture or
    plausible real embedding sits on.

    At 100 TB: centroid state is 64 doubles per label; the scan of the
    embedding table is map-only after the broadcast, so the op is
    bounded by one pass over the vectors.
    """
    e = load(spark, sf_dir, "embeddings")
    cells = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )
    cent = cells.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    arr = F.transform("embedding", lambda x: x.cast("double"))
    joined = e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        _fold_dot(arr, F.col("cvec")).alias("dot"),
        _fold_dot(arr, arr).alias("nv"),
        _fold_dot("cvec", "cvec").alias("nc"),
    )
    sim = F.col("dot") / (F.sqrt("nv") * F.sqrt("nc"))
    return joined.select(
        "vec_id", "label", F.round(sim, 6).alias("sim"), (sim < 0.0).alias("is_outlier")
    )


def _rp_signs(out_dim: int = 16, in_dim: int = 64) -> list[list[int]]:
    """Deterministic Rademacher (+1/-1) projection matrix derived from
    md5 — reproducible across runs, engines, and languages, so the
    oracle can bake the identical matrix into its SQL."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0], 16) < 8 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def _rp_chain(signs: list[int], one_based: bool) -> str:
    """A fixed left-associated +/- chain over the cast vector elements.
    The TEXTUAL order is identical in both engines, so the IEEE result
    is bit-identical — no rounding needed anywhere downstream."""
    off = 1 if one_based else 0
    parts = []
    for i, s in enumerate(signs):
        term = f"CAST(embedding[{i + off}] AS DOUBLE)"
        if i == 0:
            parts.append(term if s > 0 else f"(0.0 - {term})")
        else:
            parts.append(f"{'+' if s > 0 else '-'} {term}")
    return "(" + " ".join(parts) + ") / 4.0"


_RP_SIGNS = _rp_signs()
_RP_ORACLE = "SELECT vec_id, label,\n" + ",\n".join(
    f"       {_rp_chain(row, one_based=True)} AS y{j:02d}"
    for j, row in enumerate(_RP_SIGNS)
) + "\nFROM embeddings"


@register("k_random_projection", oracle=_RP_ORACLE)
def k_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rademacher random projection 64 -> 16 dims (Johnson-Lindenstrauss
    sketch): y_j = (1/sqrt(16)) * sum_i s_ij * x_i with s_ij in {+1,-1}
    drawn deterministically from md5. The cheap dimensionality-reduction
    pass a 100 TB embedding pipeline runs before clustering / ANN /
    storage-tiering — distances are preserved within (1 +/- eps) while
    vector bytes drop 4x (and the +/-1 matrix needs no multiplies on
    SIMD hardware).

    Engine parity is exact-by-construction: both sides evaluate the SAME
    left-associated +/- chain over the SAME float32-to-double casts, so
    every output double is bit-identical and nothing is rounded. A
    seeded-rand matrix could never be oracle-checked (engine RNGs
    differ) and would break re-runs — same rule as
    k_augment_token_dropout.

    Scale shape: map-only whole-stage-codegen projection, zero
    shuffles, zero Python. The 16x64 sign matrix is folded into the
    plan as literals (no broadcast table needed).
    """
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        *[
            F.expr(_rp_chain(row, one_based=False)).alias(f"y{j:02d}")
            for j, row in enumerate(_RP_SIGNS)
        ],
    )


_HARD_NEG_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    p AS (
        SELECT vec_id, label, ev, sqrt({_dot_chain_sql("ev", "ev")}) AS nrm
        FROM base
    ),
    q AS (
        SELECT vec_id AS q_id, label AS q_label, ev AS qv, nrm AS qnrm
        FROM p WHERE vec_id < 8
    ), scored AS (
        SELECT q.q_id, e.vec_id, e.label,
               {sql_display_q6(f'{_dot_chain_sql("e.ev", "q.qv")} / (e.nrm * q.qnrm)')} AS sim
        FROM p e CROSS JOIN q
        WHERE e.label <> q.q_label
    )
    SELECT q_id, vec_id, label, sim, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
"""


@register("k_hard_negatives", oracle=_HARD_NEG_ORACLE)
def k_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (SimCSE/CLIP-style):
    for each anchor (vec_id < 8), the 5 most-similar embeddings with a
    DIFFERENT label — maximally confusable examples, the negatives that
    actually move a contrastive loss (random negatives are trivially
    easy). Also doubles as a mislabel auditor: a hard negative at
    sim ~1.0 is usually a labeling error (see k_semantic_outlier for
    the centroid-based form).

    Ranking uses the QUANTIZED sim (ties broken by vec_id) so the rank
    cannot disagree across engines on last-ulp score noise — and as of
    r8 the quantization is exact-by-construction (identical
    left-associated dot/norm chains in both engines, then
    floor(x*1e6+0.5)/1e6 on the bit-identical cosine; round() on a
    double was the residual shortest-repr-vs-binary hazard). Fixture
    outputs are value-identical to the old form.

    Scale shape: the anchor set broadcasts (a training batch's worth of
    queries, never the corpus), scoring is one map-only pass over the
    embedding table, and the per-anchor top-5 is a window over
    candidates hash-partitioned by q_id — no all-pairs materialization.
    For anchor sets too big to broadcast, the same mining runs through
    the k_similarity_topk block-pair tiles with a label-mismatch filter
    inside the tile.
    """
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qd = F.transform(F.col("qv"), lambda x: x.cast("double"))
    cos = _fold_dot(e, qd) / (_fold_norm(e) * _fold_norm(qd))
    sim = display_q6(cos)
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("q_label"))
        .select("q_id", "vec_id", "label", sim.alias("sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "vec_id", "label", "sim", "rnk")
    )


def _srp_bucket_sql(one_based: bool, bits: int = 8) -> str:
    """Sign-bit bucket id from the first ``bits`` Rademacher projections:
    bit j set iff projection j is positive. The projections are the
    bit-identical left-associated chains of k_random_projection, so the
    bucket id is deterministic and identical in both engines."""
    return "(" + " + ".join(
        f"(CASE WHEN {_rp_chain(_RP_SIGNS[j], one_based=one_based)} > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    ) + ")"


# Multi-probe mask set: every xor mask flipping <= _ANN_PROBE_RADIUS of
# the 8 sign bits (93 of 256 buckets at radius 3). The radius is the
# recall/cost knob: measured on the sf0.01 fixture (embeddings are
# near-random, sim(top-5) ~ 0.3 — LSH's worst case) recall vs exact
# top-5 is 0.30 at radius 2 and 0.65 at radius 3 for ~36% of the space
# probed; on a real clustered embedding corpus the same radius probes
# far fewer occupied buckets for far higher recall.
_ANN_PROBE_RADIUS = 3
_ANN_MASKS = sorted(m for m in range(256) if bin(m).count("1") <= _ANN_PROBE_RADIUS)


_ANN_GRID_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev,
               {_srp_bucket_sql(one_based=True)} AS bucket
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id, label, ev, bucket,
               sqrt({_dot_chain_sql("ev", "ev")}) AS nrm
        FROM base
    ),
    q AS (
        SELECT vec_id AS q_id, ev AS qv, bucket AS qbucket, nrm AS qnrm
        FROM proj WHERE vec_id < 8
    ),
    masks AS (SELECT unnest([{", ".join(str(m) for m in _ANN_MASKS)}]) AS mask),
    probes AS (
        SELECT q_id, qv, qnrm, xor(qbucket, mask) AS bucket
        FROM q CROSS JOIN masks
    ),
    cand AS (
        SELECT p.q_id, e.vec_id, e.label,
               {sql_quantize_e6(f'{_dot_chain_sql("e.ev", "p.qv")} / (e.nrm * p.qnrm)')} AS sim_e6
        FROM proj e JOIN probes p USING (bucket)
        WHERE e.vec_id <> p.q_id
    )
    SELECT q_id, vec_id, label, sim_e6, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim_e6 DESC, vec_id) AS rnk
        FROM cand
    ) WHERE rnk <= 5
"""


@register("k_ann_grid", oracle=_ANN_GRID_ORACLE)
def k_ann_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bucketed ANN: the hash-checked
    twin of `k_ann_ivf`, with the same probe-and-score shape but a
    quantizer both engines can compute exactly — 8 sign bits of the
    seeded Rademacher projection (SRP-LSH) pack into a 256-way bucket
    id, each query (vec_id < 8) multi-probes every bucket within
    Hamming distance _ANN_PROBE_RADIUS of its own, and probed
    candidates are re-ranked by exact cosine keeping top-5. Unlike
    IVF's fitted KMeans centroids (JVM-model state -> rows-only check),
    every step here is a pure expression, so the FULL ANN pipeline —
    bucketing, multi-probe, re-rank — is differentially hash-checked
    against DuckDB.

    The score is EXACT-BY-CONSTRUCTION, not round-6dp-and-hope: dot
    and norm are the same
    left-associated IEEE chains in both engines (Spark's sequential
    ``F.aggregate`` fold == the oracle's explicit ``ev[1]*qv[1] + ...``
    chain — the `_rp_chain` technique), so the unrounded cosine double
    is bit-identical across engines; it is then quantized with
    ``floor(sim*1e6 + 0.5)`` — floor acts on the BINARY value in both
    engines (no shortest-decimal-repr divergence, unlike round()) — and
    ranked/emitted as the integer ``sim_e6``. A boundary-adjacent
    cosine therefore cannot flip the displayed value or the top-5
    membership between engines.

    Scale shape: bucket assignment is map-only whole-stage codegen (the
    sign matrix folds into literals); the probe table is queries x
    len(_ANN_MASKS) rows (a training batch's worth — broadcast);
    candidate selection
    is an EQUI-join on bucket (no cross join, unlike the brute-force
    k_hard_negatives scorer); re-rank cost is bounded by bucket
    occupancy (~n/256 per probe at uniform spread; SRP buckets are
    balanced because projections of mean-zero data split near the
    median). Recall against exact top-5 is pinned by
    test_ann_grid_recall_against_exact_knn.
    """
    from functools import reduce
    from operator import add

    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    bucket = reduce(
        add,
        [
            F.when(F.expr(_rp_chain(_RP_SIGNS[j], one_based=False)) > 0, 1 << j)
            .otherwise(0)
            for j in range(8)
        ],
    )
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # norms are hoisted to one-per-row columns BEFORE the join: the
    # re-rank stage then does one dot product per candidate
    # instead of re-aggregating both full arrays per (candidate, probe)
    e = emb.select(
        "vec_id", "label", "embedding", bucket.alias("bucket"), _fold_norm(ev).alias("nrm")
    )
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("nrm").alias("qnrm"),
    )
    masks = local_rows(spark, [(m,) for m in _ANN_MASKS], "mask int")
    probes = q.crossJoin(masks).select(
        "q_id", "qv", "qnrm",
        F.col("qbucket").bitwiseXOR(F.col("mask")).alias("bucket"),
    )
    qd = F.transform(F.col("qv"), lambda x: x.cast("double"))
    sim = _fold_dot(ev, qd) / (F.col("nrm") * F.col("qnrm"))
    cand = (
        e.join(F.broadcast(probes), "bucket")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", "label",
            quantize_e6(sim).alias("sim_e6"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim_e6"), "vec_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "vec_id", "label", "sim_e6", "rnk")
    )


# ---------------------------------------------------------------------------
# Deterministic k-means + SemDeDup-style cluster-scoped semantic dedup
# ---------------------------------------------------------------------------
#
# Lloyd's algorithm with every nondeterminism pinned down so the WHOLE
# iterative fit is oracle-checkable (most engines' KMeans — including
# Spark ML's — keeps seeded random init inside the fitted model, which
# forced k_ann_ivf to rows-only evidence):
#   * init      = the KMEANS_K vectors with the smallest vec_id,
#                 cluster id := seed vec_id (no rank computation),
#   * iterate   = exactly KMEANS_ITERS Lloyd steps (no convergence test
#                 — a data-dependent stopping rule would make the
#                 round-trip plan depth data-dependent too),
#   * assign    = argmin of the squared L2 distance with (d2, cid)
#                 tie-break; the distance is a LEFT-ASSOCIATED 64-term
#                 fold over doubles, so both engines produce the
#                 bit-identical IEEE value (the _dot_chain_sql
#                 technique) and the argmin can compare RAW doubles,
#   * update    = floor-quantized avg (display_q6 form) per
#                 (cluster, dim) cell — the one cross-engine rounding
#                 point (group sums associate in engine order); floor
#                 on the binary value avoids round()'s shortest-repr
#                 split (functions/exact.py),
#   * empty     = a cluster that loses every member KEEPS its previous
#                 centroid (left join + coalesce on both engines).
KMEANS_K = 8
KMEANS_ITERS = 3

# SemDeDup duplicate threshold (cosine within a cluster). Production
# corpora run this at ~0.95+; the synthetic embeddings fixture has no
# cosine above 0.513, so the graded constant sits where the fixture
# exercises every branch (sf0.01: 118 within-cluster dup pairs, 92
# dropped of 500; sf0.001: 88/76; sf0.1: 1223 pairs, 777 dropped).
SEMDEDUP_TAU = 0.35


def _sq_dist_chain_sql(v: str, c: str, dims: int = EMBEDDING_DIM) -> str:
    """Left-associated squared-L2 chain — the distance twin of
    _dot_chain_sql, bit-identical to Spark's sequential zip_with +
    aggregate fold on the same operands."""
    return (
        "("
        + " + ".join(f"({v}[{i}]-{c}[{i}])*({v}[{i}]-{c}[{i}])" for i in range(1, dims + 1))
        + ")"
    )


def _kmeans_assign(cents: DataFrame, earr: DataFrame) -> DataFrame:
    """One MAP-ONLY Lloyd assignment pass: the K-row (cid, cvec) centroid
    table is packed into a single row of K structs (SinglePartition
    exchange + BNLJ build side both carry K = KMEANS_K rows — a
    corpus-INDEPENDENT constant, the e_ntile scalar-broadcast
    adjudication class) and every vector picks argmin (d2, cid) inside
    one whole-stage-codegen projection. No shuffle touches the vectors.
    array_sort on the (d2, cid) struct makes the argmin independent of
    collect_list's packing order."""
    packed = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("cs"))

    def d2(cv):
        return F.aggregate(
            F.zip_with(F.col("v"), cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.array_sort(
        F.transform(
            F.col("cs"), lambda c: F.struct(d2(c["cvec"]).alias("d2"), c["cid"].alias("cid"))
        )
    )[0]
    return earr.crossJoin(F.broadcast(packed)).select(
        *earr.columns, best["cid"].alias("cluster"), best["d2"].alias("d2")
    )


def _kmeans_update(cents: DataFrame, assigned: DataFrame) -> DataFrame:
    """Lloyd centroid update: posexplode -> partial-combining hash agg on
    (cluster, pos) — K x 64 distinct keys, so the exchange moves one
    partial sum per mapper per cell, never the vectors — re-assembled
    into ordered arrays and LEFT-joined back onto the previous centroids
    so an emptied cluster keeps its old centroid (coalesce), mirroring
    the oracle's LEFT JOIN term-for-term. The floor-quantized average
    (display_q6) is the one cross-engine rounding point — floor acts on
    the BINARY double in both engines, avoiding round()'s
    shortest-repr-vs-binary split (functions/exact.py), so
    only a last-ulp avg difference landing exactly on an x.5e-6
    boundary could diverge."""
    cells = (
        assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(display_q6(F.avg("val")).alias("c"))
    )
    new = cells.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("nvec")
    )
    return cents.join(new, cents["cid"] == new["cluster"], "left").select(
        "cid", F.coalesce("nvec", "cvec").alias("cvec")
    )


def kmeans_fit(
    earr: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd fit over any (vec_id, v: array<double>) frame:
    (assigned, centroids) after exactly ``iters`` steps —
    assigned(vec_id, v, cluster, d2) is the FINAL assignment against
    the last centroids; centroids(cid, cvec) are those last centroids.
    Frame-level so the empty-cluster branch (duplicate seeds) is
    differentially testable on synthetic data."""
    cents = _kmeans_cents(earr, k, iters)
    return _kmeans_assign(cents, earr), cents


def _kmeans_cents(earr: DataFrame, k: int, iters: int) -> DataFrame:
    """The fit WITHOUT the final assignment — split out so semdedup can
    checkpoint the K-row centroid table once and derive the final
    assignment from the checkpoint (checkpointing assigned and cents
    independently would execute the whole iterative fit twice — the
    two eager jobs share no cache)."""
    cents = (
        earr.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cvec"))
    )
    for _ in range(iters):
        cents = _kmeans_update(cents, _kmeans_assign(cents, earr))
    return cents


def _load_earr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<double>) projection of the embeddings table —
    the one definition of the float->double cast both kmeans entry
    points share."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def kmeans_assignments(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> tuple[DataFrame, DataFrame]:
    """kmeans_fit over the embeddings table. Shared by k_kmeans_clusters
    and k_semdedup so the dedup op can never drift from the clustering
    it claims to scope.

    At 100 TB: each iteration is one map-only pass over the vectors
    (K-struct broadcast) plus a K x dim-key partial-combining aggregate
    — the textbook scalable Lloyd shape; iters+1 scans of the
    embeddings table total, no driver materialization, centroid state
    K x dim doubles."""
    return kmeans_fit(_load_earr(spark, sf_dir), k, iters)


def _kmeans_ctes(
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    dims: int = EMBEDDING_DIM,
    ev_sql: str | None = None,
) -> str:
    """DuckDB CTE block unrolling the deterministic Lloyd fit —
    ev(vec_id, v), c0 (seed centroids), a1..a{iters} (assignments),
    c1..c{iters} (updated centroids), a{iters+1} (final assignment).
    Mirrors kmeans_assignments term-for-term: left-associated distance
    chains, (d2, cid) argmin, floor-quantized (display_q6) centroid
    cells, LEFT JOIN + coalesce empty-cluster keep. Shared by the k_kmeans_clusters and k_semdedup
    oracles."""
    parts = [
        ev_sql
        or "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        # seeds come FROM ev, not from the base table, so an ev_sql
        # override that filters or re-keys rows keeps the seed set
        # consistent with what the Spark side's earr actually contains
        f"""c0 AS (
        SELECT vec_id AS cid, v AS cvec FROM ev
        WHERE vec_id IN (SELECT vec_id FROM ev ORDER BY vec_id LIMIT {k})
    )""",
    ]
    for t in range(1, iters + 2):
        prev = f"c{t - 1}"
        parts.append(f"""a{t} AS (
        SELECT vec_id, v, cid, d2 FROM (
            SELECT vec_id, v, cid, d2,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM (
                SELECT ev.vec_id, ev.v, c.cid,
                       {_sq_dist_chain_sql("ev.v", "c.cvec", dims)} AS d2
                FROM ev CROSS JOIN {prev} c
            )
        ) WHERE rn = 1
    )""")
        if t <= iters:
            parts.append(f"""u{t} AS (
        SELECT cid, list(c ORDER BY pos) AS nvec FROM (
            SELECT cid, i AS pos, {sql_display_q6("avg(v[i])")} AS c
            FROM a{t}, range(1, {dims + 1}) dd(i)
            GROUP BY cid, i
        ) GROUP BY cid
    )""")
            parts.append(f"""c{t} AS (
        SELECT c.cid, coalesce(u.nvec, c.cvec) AS cvec
        FROM {prev} c LEFT JOIN u{t} u USING (cid)
    )""")
    return ",\n    ".join(parts)


@register(
    "k_kmeans_clusters",
    oracle=f"""
    WITH {_kmeans_ctes()}
    SELECT vec_id, cid AS cluster, {sql_display_q6("d2")} AS dist2
    FROM a{KMEANS_ITERS + 1}
    """,
)
def k_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means over the embeddings
    table (K = 8 smallest-vec_id seeds, 3 iterations) — the clustering
    primitive a curation pipeline runs before SemDeDup / per-cluster
    sampling, with the entire ITERATIVE fit hash-checked against DuckDB
    (see the section comment for how each nondeterminism is pinned).

    Plan shape per iteration: map-only assignment (K-struct scalar
    broadcast; the BNLJ/SinglePartition in the audit carry K rows, a
    corpus-independent constant) + one partial-combining (cluster, dim)
    aggregate whose exchange moves K x 64 partial sums per mapper.
    At 100 TB this is iters+1 scans and nothing else — no all-pairs,
    no driver traffic, centroid state K x 64 doubles."""
    assigned, _ = kmeans_assignments(spark, sf_dir)
    return assigned.select(
        "vec_id", F.col("cluster"), display_q6(F.col("d2")).alias("dist2")
    )


def _semdedup_oracle(cap: int, chunk_rows: int) -> str:
    """DuckDB twin of k_semdedup, cap/chunk-parameterized so the
    forced-small-cap mirror test rebuilds the WHOLE oracle (the round-7
    LSH lesson): fixture clusters (~60 wide) never reach the production
    cap, so only a rebuilt cap=8 oracle proves the star+chain branch."""
    from .dedup import chain_cte_sql

    # zero-norm guard mirrored from the engine side (see semdedup)
    cos = "{dot} / (greatest(sqrt({na}), 1e-12) * greatest(sqrt({nb}), 1e-12))"
    pair_cos = cos.format(
        dot=_dot_chain_sql("x.v", "y.v"),
        na=_dot_chain_sql("x.v", "x.v"),
        nb=_dot_chain_sql("y.v", "y.v"),
    )
    cent_cos = cos.format(
        dot=_dot_chain_sql("a.v", "c.cvec"),
        na=_dot_chain_sql("a.v", "a.v"),
        nb=_dot_chain_sql("c.cvec", "c.cvec"),
    )
    fin = f"a{KMEANS_ITERS + 1}"
    return f"""
    WITH {_kmeans_ctes()},
    sd_b AS (SELECT vec_id AS doc_id, 0 AS band, cid AS bucket FROM {fin}),
    sd_sized AS (
        SELECT doc_id, band, bucket,
               count(*) OVER (PARTITION BY band, bucket) AS bsz,
               min(doc_id) OVER (PARTITION BY band, bucket) AS hub
        FROM sd_b
    ),
    sd_chain AS {chain_cte_sql("sd_sized", "bucket", cap, chunk_rows)},
    sd_cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sd_sized a JOIN sd_sized b
              ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            WHERE a.bsz <= {cap} OR a.doc_id = a.hub
            UNION ALL
            SELECT doc_a, doc_b FROM sd_chain
        )
    ),
    sd_edges AS (
        SELECT doc_a, doc_b FROM (
            SELECT c.doc_a, c.doc_b, {pair_cos} AS sim
            FROM sd_cand c
            JOIN ev x ON x.vec_id = c.doc_a
            JOIN ev y ON y.vec_id = c.doc_b
        ) WHERE sim >= {SEMDEDUP_TAU}
    ),
    sd_csim AS (
        SELECT a.vec_id, a.cid AS cluster, {cent_cos} AS cs
        FROM {fin} a JOIN c{KMEANS_ITERS} c ON a.cid = c.cid
    ),
    sd_bidir AS (
        SELECT doc_a AS u, doc_b AS w FROM sd_edges
        UNION ALL
        SELECT doc_b AS u, doc_a AS w FROM sd_edges
    ),
    sd_worse AS (
        SELECT DISTINCT b.w AS vec_id
        FROM sd_bidir b
        JOIN sd_csim cu ON cu.vec_id = b.u
        JOIN sd_csim cw ON cw.vec_id = b.w
        WHERE cu.cs < cw.cs OR (cu.cs = cw.cs AND b.u < b.w)
    )
    SELECT s.vec_id, s.cluster, {sql_display_q6("s.cs")} AS cent_sim,
           (w.vec_id IS NULL) AS kept
    FROM sd_csim s LEFT JOIN sd_worse w USING (vec_id)
    """


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_size: int | None = None,
    chain_chunk_rows: int | None = None,
) -> DataFrame:
    """Composable SemDeDup body — cap/chunk-parameterized for the
    forced-small-cap mirror test; k_semdedup registers the defaults."""
    from .dedup import CHAIN_CHUNK_ROWS, LSH_BUCKET_CAP, capped_bucket_pairs

    cap = LSH_BUCKET_CAP if max_bucket_size is None else max_bucket_size
    chunk = CHAIN_CHUNK_ROWS if chain_chunk_rows is None else chain_chunk_rows
    # Checkpoint the fit ONCE: the K-row centroid checkpoint runs the
    # iterative fit, then the final assignment derives from the
    # checkpoint with one map-only pass (checkpointing assigned and
    # cents independently would run the whole fit twice — two eager
    # jobs share no cache). Both checkpoints keep the
    # candidate, centroid-sim, and keeper stages from re-embedding the
    # Lloyd lineage.
    earr = _load_earr(spark, sf_dir)
    cents = _kmeans_cents(earr, KMEANS_K, KMEANS_ITERS).localCheckpoint()
    assigned = _kmeans_assign(cents, earr).localCheckpoint()
    buckets = assigned.select(
        F.col("vec_id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.col("cluster").alias("bucket"),
    )
    cand = capped_bucket_pairs(buckets, cap, chunk)
    va = assigned.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("xa"))
    vb = assigned.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("xb"))
    # Guarded denominators: a zero-norm vector must yield sim 0, not a
    # divide-by-zero — Spark's non-ANSI divide gives NULL there while
    # DuckDB gives NaN (which sorts ABOVE the threshold under its
    # total order), so an unguarded quotient diverges cross-engine on
    # degenerate input (as in _ivf_assign). The
    # guard is mirrored in the oracle.
    gnorm = lambda c: F.greatest(_fold_norm(c), F.lit(1e-12))  # noqa: E731
    sim = _fold_dot(F.col("xa"), F.col("xb")) / (
        gnorm(F.col("xa")) * gnorm(F.col("xb"))
    )
    edges = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select("doc_a", "doc_b", sim.alias("sim"))
        .where(F.col("sim") >= F.lit(SEMDEDUP_TAU))
        .select("doc_a", "doc_b")
    )
    cent_cos = _fold_dot(F.col("v"), F.col("cvec")) / (
        gnorm(F.col("v")) * gnorm(F.col("cvec"))
    )
    csim = assigned.join(
        F.broadcast(cents), assigned["cluster"] == cents["cid"]
    ).select("vec_id", "cluster", cent_cos.alias("cs"))
    bidir = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("w")).unionByName(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("w"))
    )
    cu = csim.select(F.col("vec_id").alias("u"), F.col("cs").alias("cs_u"))
    cw = csim.select(F.col("vec_id").alias("w"), F.col("cs").alias("cs_w"))
    worse = (
        bidir.join(cu, "u")
        .join(cw, "w")
        .where(
            (F.col("cs_u") < F.col("cs_w"))
            | ((F.col("cs_u") == F.col("cs_w")) & (F.col("u") < F.col("w")))
        )
        .select(F.col("w").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return csim.join(worse, "vec_id", "left").select(
        "vec_id",
        "cluster",
        display_q6(F.col("cs")).alias("cent_sim"),
        F.col("dropped").isNull().alias("kept"),
    )


def _semdedup_default_oracle() -> str:
    from .dedup import CHAIN_CHUNK_ROWS, LSH_BUCKET_CAP

    return _semdedup_oracle(LSH_BUCKET_CAP, CHAIN_CHUNK_ROWS)


@register("k_semdedup", oracle=_semdedup_default_oracle())
def k_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup
    scoped to k-means clusters: cluster the embeddings (the
    deterministic Lloyd fit of k_kmeans_clusters), generate candidate
    pairs ONLY within a cluster, mark cosine >= SEMDEDUP_TAU pairs as
    duplicates, and per duplicate pair KEEP the member with the LOWER
    cosine to its cluster centroid (the paper's diversity-preserving
    keeper; ties break to the smaller vec_id). Output one row per
    vector: (vec_id, cluster, cent_sim, kept).

    The clustering is what makes this survive 100 TB where
    k_embed_near_dup's block-pair matmul is O(n^2/B): candidates are
    cluster-local, and the within-cluster expansion rides the SAME
    capped star+chunked-chain skew guard as every banding family
    (capped_bucket_pairs with band = 0, bucket = cluster id), so a
    degenerate mega-cluster emits O(B·salts) candidates from bounded
    tasks instead of an all-pairs blow-up. Every double the comparison
    logic touches (pair cosine, centroid cosine) is a left-associated
    fold on operands both engines hold bit-identically, so the >= TAU
    gate and the (cs, vec_id) keeper ordering cannot straddle a
    rounding boundary; the one rounded quantity is the Lloyd centroid
    average (see the section comment)."""
    return semdedup(spark, sf_dir)


IVF_K = 16
IVF_ITERS = 3
_IVF_NPROBE_FLOOR = 4
_IVF_POOL_TARGET = 160  # 16x the requested top-k


def _unit_earr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, v) with v L2-NORMALIZED to the unit sphere
    (guarded: an all-zero embedding stays zero instead of NaN). On the
    unit sphere Euclidean NN == cosine NN, so Lloyd inverted lists
    respect the cosine metric the ANN query scores by — clustering raw
    vectors buckets by magnitude and craters recall (round-4 lesson).
    Division is element-by-element on a left-associated norm, so the
    unit vectors are bit-identical across engines.

    The guarded norm is HOISTED into its own column (`vnorm`) and kept
    in the output on purpose: higher-order-function lambdas are
    evaluated per element, and CollapseProject re-inlines a
    single-referenced alias straight back into the lambda body —
    turning the normalization into an O(dims^2)-per-row re-computation
    (probed on Spark 4.1). Emitting vnorm alongside v makes the
    alias doubly-referenced, which blocks the inline and keeps the
    norm at one evaluation per row. The oracle twin (_ivf_unit_ev_sql)
    hoists `g` in a subquery the same way."""
    e = load(spark, sf_dir, "embeddings")
    arr64 = F.transform("embedding", lambda x: x.cast("double"))
    staged = e.select(
        "vec_id",
        "label",
        arr64.alias("vraw"),
        F.greatest(_fold_norm(arr64), F.lit(1e-12)).alias("vnorm"),
    )
    return staged.select(
        "vec_id",
        "label",
        "vnorm",
        F.transform("vraw", lambda x: x / F.col("vnorm")).alias("v"),
    )


def _ivf_unit_ev_sql(dims: int = EMBEDDING_DIM) -> str:
    """DuckDB twin of _unit_earr's normalization as the kmeans `ev` CTE."""
    return f"""ev AS (
        SELECT vec_id, list_transform(vraw, x -> x / g) AS v FROM (
            SELECT vec_id, vraw,
                   greatest(sqrt({_dot_chain_sql("vraw", "vraw", dims)}), 1e-12) AS g
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vraw
                  FROM embeddings)
        )
    )"""


def _ivf_assign(
    spark: SparkSession, sf_dir: str, checkpoint_assigned: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Fit the IVF coarse quantizer — the deterministic spherical Lloyd
    fit (kmeans_fit over unit vectors, IVF_K=16 lists, IVF_ITERS=3) —
    and return (assigned, cents) where assigned carries a `bucket`
    column (= the cluster's seed vec_id). Until round 11 this was
    Spark ML's seeded KMeans, which keeps its init inside the fitted
    JVM model and forced both IVF ops to rows-only evidence; the
    deterministic fit makes the whole ANN path hash-checkable. Same
    single-fit checkpoint discipline as semdedup."""
    earr = _unit_earr(spark, sf_dir)
    cents = _kmeans_cents(earr, IVF_K, IVF_ITERS).localCheckpoint()
    assigned = _kmeans_assign(cents, earr).withColumnRenamed("cluster", "bucket")
    if checkpoint_assigned:
    # k_ann_ivf consumes assigned four times (sizes, query row,
    # candidates, scoring); single-pass consumers skip the
    # corpus-sized materialization
        assigned = assigned.localCheckpoint()
    return assigned, cents


_IVF_STATS_ORACLE = f"""
    WITH {_kmeans_ctes(IVF_K, IVF_ITERS, ev_sql=_ivf_unit_ev_sql())}
    SELECT cid AS bucket, count(*) AS list_size
    FROM a{IVF_ITERS + 1} GROUP BY cid
    """


@register("k_ann_ivf_stats", oracle=_IVF_STATS_ORACLE)
def k_ann_ivf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, list_size) of the IVF inverted lists — the skew/health
    diagnostic for the coarse quantizer (a hot bucket means the fit
    under-split and probe cost balloons). Hash-checked since the
    quantizer became the deterministic Lloyd fit (r11); row count is
    bounded by IVF_K. Single-pass consumer: skips the corpus-sized
    assigned checkpoint (only the K-row cents one runs)."""
    assigned, _ = _ivf_assign(spark, sf_dir, checkpoint_assigned=False)
    return assigned.groupBy("bucket").agg(F.count("*").alias("list_size"))


def _ivf_query_oracle() -> str:
    fin = f"a{IVF_ITERS + 1}"
    return f"""
    WITH {_kmeans_ctes(IVF_K, IVF_ITERS, ev_sql=_ivf_unit_ev_sql())},
    iv_sizes AS (SELECT cid, count(*) AS sz FROM {fin} GROUP BY cid),
    iv_q AS (SELECT v AS qv FROM {fin} WHERE vec_id = 0),
    iv_bd AS (
        SELECT c.cid, {_sq_dist_chain_sql("c.cvec", "q.qv")} AS d
        FROM c{IVF_ITERS} c CROSS JOIN iv_q q
    ),
    iv_br AS (
        SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM iv_bd
    ),
    iv_bc AS (
        SELECT br.cid, br.rn,
               sum(coalesce(s.sz, 0)) OVER (ORDER BY br.rn) AS pool
        FROM iv_br br LEFT JOIN iv_sizes s ON s.cid = br.cid
    ),
    iv_rsel AS (
        SELECT coalesce(
            min(rn) FILTER (WHERE rn >= {_IVF_NPROBE_FLOOR}
                              AND pool >= {_IVF_POOL_TARGET}),
            (SELECT max(rn) FROM iv_bc)
        ) AS r FROM iv_bc
    ),
    iv_probes AS (SELECT cid FROM iv_bc, iv_rsel WHERE iv_bc.rn <= iv_rsel.r)
    SELECT a.vec_id, e.label, a.cid AS bucket,
           {sql_display_q6(_dot_chain_sql("a.v", "q.qv"))} AS sim
    FROM {fin} a
    JOIN embeddings e ON e.vec_id = a.vec_id
    CROSS JOIN iv_q q
    WHERE a.cid IN (SELECT cid FROM iv_probes) AND a.vec_id != 0
    ORDER BY sim DESC, a.vec_id
    LIMIT 10
    """


@register("k_ann_ivf", oracle=_ivf_query_oracle())
def k_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN over the deterministic spherical Lloyd
    quantizer — since r11 the ENTIRE path (fit, adaptive probe
    selection, candidate scoring) is hash-checked against DuckDB; the
    Spark ML model that forced rows-only evidence is gone.

    Query = vec_id 0. nprobe adapts to the MEASURED inverted-list
    sizes, not a row-count heuristic: probe nearest
    lists (by centroid distance, (d, cid)-tie-broken) until the
    candidate pool holds >= 16x the requested top-k with a floor of
    _IVF_NPROBE_FLOOR lists, so tiny corpora where a 16-way fit
    over-partitions keep probing deeper instead of hitting a recall
    cliff, while at 100 TB (huge lists) the probe count stays at the
    floor. Driver traffic is bounded regardless of corpus size: the
    per-bucket size map (<= IVF_K rows), the centroid table (IVF_K
    rows), and the single query row — the probe-selection arithmetic
    runs in pure Python with LEFT-ASSOCIATED loops on exactly the
    doubles both engines hold (quantized centroid cells, unit query
    vector), so the selected bucket-id set is deterministic and the
    oracle derives the identical set in SQL. Candidate scoring is a
    map-side dot of unit vectors against the broadcast query row;
    recall vs the exact k-NN is pinned by
    test_ivf_recall_against_exact_knn."""
    assigned, cents = _ivf_assign(spark, sf_dir)
    sizes = {
        r["bucket"]: r["cnt"]
        for r in assigned.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    qrow = assigned.where(F.col("vec_id") == 0).select("v").first()
    if qrow is None:
        return assigned.select(
            "vec_id", "label", "bucket", F.lit(0.0).alias("sim")
        ).limit(0)
    qv = list(qrow["v"])
    dists = []
    for r in cents.collect():  # IVF_K rows — bounded driver scalar
        d = 0.0
        for a, b in zip(r["cvec"], qv):
            d = d + (a - b) * (a - b)  # left-associated, matches the SQL chain
        dists.append((d, r["cid"]))
    dists.sort()
    probe, pool = [], 0
    for d, cid in dists:
        probe.append(cid)
        pool += sizes.get(cid, 0)
        if len(probe) >= _IVF_NPROBE_FLOOR and pool >= _IVF_POOL_TARGET:
            break

    q = assigned.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = assigned.where(
        F.col("bucket").isin(probe) & (F.col("vec_id") != 0)
    ).crossJoin(F.broadcast(q))
    return (
        cand.select(
            "vec_id", "label", "bucket",
            display_q6(_fold_dot(F.col("v"), F.col("qv"))).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )
