"""Multimodal column plumbing (SURVEY.md §2-K extension).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The fixtures carry no binary media, so the blobs here are
deterministically synthesized from document text (encode -> binary).
Raw-format decoding is REAL and oracle-checked (k_multimodal_decode:
numpy raw-grayscale pixels; k_audio_frame_rms: framed 8-bit PCM) —
only the compressed-codec step is an env-gated stub (pillow/ffmpeg
absent in this container). Every piece of Spark-side plumbing is real
and tested: binary columns, metadata structs, Arrow batch shapes through
mapInPandas, and partition-parallel feature extraction.

At 100 TB: blobs stay in columnar storage next to their metadata; the
decode/feature UDFs stream per-partition Arrow batches so executor memory
holds one batch of blobs, never a partition's worth of decoded frames.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import quantize_e6
from ..registry import register
from ..sources.io import load

FEATURE_DIM = 8


def decode_image(blob: bytes) -> "object":
    """Decode an image blob to pixels. STUB: pillow/opencv are not
    available in this container; the real implementation is
    ``PIL.Image.open(io.BytesIO(blob))``."""
    raise NotImplementedError("image decode requires pillow/opencv (not in container)")


def _fake_features(blob: bytes) -> list[float]:
    """Deterministic stand-in for a decoded-media feature vector:
    FEATURE_DIM floats derived from the blob's sha256 (stable across
    runs/partitions, so tests can assert exact values)."""
    h = hashlib.sha256(blob).digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one Arrow batch of (doc_id, blob, meta...) in,
    one batch of (doc_id, n_bytes, features) out."""
    for pdf in batches:
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["blob"].map(len).astype("int64"),
                "features": pdf["blob"].map(_fake_features),
            }
        )
        yield out


_MM_PIPELINE_ORACLE = (
    """
    SELECT doc_id,
           'synthetic/text' AS mime,
           CAST(n_chars AS BIGINT) AS content_length,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           concat_ws(',', """
    + ", ".join(
        "CAST(floor(((('0x' || substr(sha256(text), "
        f"{2 * i + 1}, 2))::INT) / 255.0) * 1000000.0 + 0.5) AS BIGINT)::VARCHAR"
        for i in range(FEATURE_DIM)
    )
    + """) AS features
    FROM documents WHERE text IS NOT NULL
    """
)


@register("k_multimodal_pipeline", oracle=_MM_PIPELINE_ORACLE)
def k_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal plumbing: synthesize blob + metadata struct
    -> partition-parallel feature extraction (mapInPandas over Arrow
    batches — the real deliverable is that boundary) -> join features
    back to metadata. Hash-checked since r11: the stand-in features are
    sha256-derived (DuckDB's sha256 agrees byte-for-byte with
    hashlib's), and the feature string serializes the QUANTIZED-e6
    integers rather than round()-formatted doubles, so no
    double-to-string formatting can diverge cross-engine. The feature
    vector crosses the UDF boundary as array<double> but the checked
    output joins it to one string — array cells crash the driver's
    canonicalizer even on rows-only checks. Null-text docs are excluded
    on both sides (mirrored WHERE; encode(NULL) would crash the
    worker's len() and sha256(NULL) is NULL — the winnow precedent)."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    media = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.struct(
            F.lit("synthetic/text").alias("mime"),
            F.col("n_chars").cast("long").alias("content_length"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )
    feats = media.mapInPandas(
        extract_features,
        schema=f"doc_id long, n_bytes long, features array<double>",
    )
    return (
        media.select("doc_id", "meta")
        .join(feats, "doc_id")
        .select(
            "doc_id",
            F.col("meta.mime").alias("mime"),
            F.col("meta.content_length").alias("content_length"),
            "n_bytes",
            F.concat_ws(
                ",",
                F.transform("features", lambda x: quantize_e6(x).cast("string")),
            ).alias("features"),
        )
    )


@register(
    "k_multimodal_join",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT doc_id, lang, label,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) AS sim
    FROM documents
    JOIN embeddings ON doc_id = vec_id
    CROSS JOIN q
    WHERE label IN (1, 2, 3)
      AND list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv)
          BETWEEN 0.2 AND 0.98
    """,
)
def k_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs joined to their embedding rows (doc_id = vec_id), filtered by
    label and a cosine band against a query vector — the curation query
    shape that mixes relational filters with vector scoring."""
    d = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qd = F.transform(F.col("qv"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(e, qd, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda v: F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (norm(e) * norm(qd))
    return (
        d.join(emb, d.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(q))
        .where(F.col("label").isin(1, 2, 3) & cos.between(0.2, 0.98))
        .select("doc_id", "lang", "label", F.round(cos, 6).alias("sim"))
    )


FRAME_BYTES = 64
FRAME_STRIDE = 3


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one Arrow batch of (doc_id, blob) in, one batch
    of sampled-frame rows out. A "video" here is the blob split into
    consecutive FRAME_BYTES-byte frames (full frames only); every
    FRAME_STRIDE-th frame is kept — the frame-sampling shape for real
    video where the decoder would yield keyframes instead of byte slices."""
    for pdf in batches:
        doc_ids, idxs, hashes, totals = [], [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            b = bytes(blob)
            n = len(b) // FRAME_BYTES
            for i in range(0, n, FRAME_STRIDE):
                doc_ids.append(doc_id)
                idxs.append(i)
                hashes.append(
                    hashlib.md5(b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]).hexdigest()
                )
                totals.append(n)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_md5": pd.Series(hashes, dtype="object"),
                "n_frames": pd.Series(totals, dtype="int32"),
            }
        )


@register(
    "k_frame_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               CAST(length(text) // 64 AS INT) AS n_frames
        FROM documents)
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           md5(substring(text, CAST(i AS INT) * 64 + 1, 64)) AS frame_md5,
           n_frames
    FROM d, unnest(range(0, n_frames)) AS t(i)
    WHERE i % 3 = 0
    """,
)
def k_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary media column: synthesize the blob
    (UTF-8 encode of ASCII text, so byte offsets == char offsets and the
    oracle can recompute every frame hash with substring+md5), then
    sample every 3rd 64-byte frame inside an Arrow-batched mapInPandas.

    At 100 TB: map-only — no shuffle anywhere; each executor holds one
    Arrow batch of blobs, and the emitted rows are (id, idx, hash) only,
    never the frames themselves. With a real codec the worker body
    swaps the byte slicing for decoder keyframe iteration; the schema,
    batching, and partition parallelism are exactly this."""
    d = load(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    return media.mapInPandas(
        sample_frames,
        schema="doc_id long, frame_idx int, frame_md5 string, n_frames int",
    )


IMG_W = 32


def decode_raw_grayscale(blob: bytes, width: int) -> "object":
    """REAL decoder for the headerless raw-grayscale format (shape
    carried in column metadata, like tensor blobs in ML parquet
    stores): truncate to whole rows, one uint8 pixel per byte. Swap in
    PIL.Image.open for compressed formats (pillow absent here — see
    decode_image)."""
    import numpy as np

    n = (len(blob) // width) * width
    if n == 0:
        return None
    return np.frombuffer(blob[:n], dtype=np.uint8).reshape(-1, width)


def _raw_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: decode each blob and emit pixel statistics.
    One Arrow batch of blobs in executor memory at a time."""
    for pdf in batches:
        rows = []
        for doc_id, blob, width in zip(pdf["doc_id"], pdf["blob"], pdf["img_w"]):
            img = decode_raw_grayscale(blob, int(width))
            if img is None:
                continue
            px = img.astype("float64")
            # raw doubles out; rounding happens in the Spark projection —
            # Python round() is banker's, F.round/DuckDB are HALF_UP, and
            # integer-pixel means land exactly on binary .5 midpoints
            rows.append(
                {
                    "doc_id": doc_id,
                    "n_bytes": len(blob),
                    "img_h": img.shape[0],
                    "px_mean": float(px.mean()),
                    "px_std": float(px.std()),
                }
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_bytes", "img_h", "px_mean", "px_std"],
        )


@register(
    "k_multimodal_decode",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, len(text) AS n_bytes,
               CAST(floor(len(text) / {IMG_W}) AS BIGINT) AS img_h
        FROM documents),
    ch AS (
        SELECT b.doc_id, unicode(u.c) AS px
        FROM base b,
             unnest(string_split(substr(b.text, 1,
                                        CAST(b.img_h * {IMG_W} AS INT)), '')) AS u(c)
        WHERE b.img_h >= 1),
    stats AS (
        SELECT doc_id, round(avg(px), 6) AS px_mean,
               round(stddev_pop(px), 6) AS px_std
        FROM ch GROUP BY doc_id)
    SELECT b.doc_id, b.n_bytes, b.img_h, s.px_mean, s.px_std
    FROM base b JOIN stats s USING (doc_id)
    WHERE b.img_h >= 1
    """,
)
def k_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + feature extraction, oracle-checked: blobs in
    the headerless raw-grayscale format (one uint8 pixel per byte, width
    in the metadata column — the tensor-in-parquet layout) are decoded
    with numpy inside a mapInPandas worker and reduced to per-image
    pixel statistics. The fixture blobs are the documents' UTF-8 bytes
    (pure ASCII, so DuckDB reproduces every pixel as unicode(char) and
    the whole decode -> feature path gets a value-hash oracle — unlike
    the pillow-dependent compressed-format stub, which stays env-gated).

    At 100 TB: partition-parallel Arrow batches; one batch of blobs in
    executor memory at a time, never a partition's worth of decoded
    pixels; the output is fixed-width stats, so the shuffle after this
    stage carries scalars only.
    """
    d = load(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.lit(IMG_W).alias("img_w"),
    )
    return media.mapInPandas(
        _raw_stats,
        schema="doc_id long, n_bytes long, img_h long, px_mean double, px_std double",
    ).select(
        "doc_id",
        "n_bytes",
        "img_h",
        F.round("px_mean", 6).alias("px_mean"),
        F.round("px_std", 6).alias("px_std"),
    )


FRAME_N = 32


def _frame_rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: frame each PCM blob and emit per-frame RMS +
    peak. Raw doubles out; rounding happens in the Spark projection
    (HALF_UP parity with the oracle)."""
    import numpy as np

    for pdf in batches:
        ids, frames, rms, peak = [], [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            n = (len(blob) // FRAME_N) * FRAME_N
            if n == 0:
                continue
            arr = (
                np.frombuffer(blob[:n], dtype=np.uint8)
                .reshape(-1, FRAME_N)
                .astype("float64")
            )
            k = arr.shape[0]
            ids.extend([doc_id] * k)
            frames.extend(range(k))
            rms.extend(np.sqrt((arr * arr).mean(axis=1)).tolist())
            peak.extend(arr.max(axis=1).astype("int64").tolist())
        yield pd.DataFrame(
            {"doc_id": ids, "frame_no": frames, "rms": rms, "peak": peak},
        )


@register(
    "k_audio_frame_rms",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, CAST(u.i AS INT) AS i,
               unicode(substr(text, CAST(u.i AS INT), 1)) AS px
        FROM documents, unnest(range(1, len(text) + 1)) AS u(i)
        WHERE u.i <= floor(len(text) / {FRAME_N}) * {FRAME_N}),
    fr AS (
        SELECT doc_id, CAST(floor((i - 1) / {FRAME_N}.0) AS BIGINT) AS frame_no, px
        FROM pos)
    SELECT doc_id, frame_no,
           round(sqrt(avg(CAST(px * px AS DOUBLE))), 6) AS rms,
           CAST(max(px) AS BIGINT) AS peak
    FROM fr GROUP BY doc_id, frame_no
    """,
)
def k_audio_frame_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction with REAL sample math, oracle-checked:
    blobs are framed as unsigned 8-bit PCM (32 samples per frame, the
    hop = frame window of a spectrogram pipeline) and each frame is
    reduced to RMS energy + peak amplitude inside a mapInPandas worker —
    the loudness/clipping profile an audio-corpus quality filter gates
    on. Fixture blobs are the documents' ASCII bytes, so DuckDB
    recomputes every sample via unicode(char) and hash-checks the
    decode -> frame -> feature path; a real codec (ffmpeg/soundfile,
    absent here) would slot into the same worker.

    At 100 TB: partition-parallel Arrow batches, one batch of blobs in
    memory per worker; output rows are (doc, frame) scalars so the
    frame table shuffles like any fact table — no decoded audio ever
    crosses an exchange.
    """
    d = load(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    return media.mapInPandas(
        _frame_rms,
        schema="doc_id long, frame_no long, rms double, peak long",
    ).select(
        "doc_id",
        "frame_no",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


from .dedup import CHAIN_CHUNK_ROWS as _CHUNK  # noqa: E402
from .dedup import LSH_BUCKET_CAP as _CAP  # noqa: E402
from .dedup import chain_cte_sql as _chain_cte_sql  # noqa: E402


def _ahash_oracle(cap: int = _CAP, chunk_rows: int = _CHUNK) -> str:
    """DuckDB twin of `k_image_ahash_dedup`, cap/chunk-parameterized so
    the forced-small-cap/chunk mirror tests rebuild the WHOLE oracle
    instead of string-replacing constants; the chain CTE comes from the
    SHARED dedup.chain_cte_sql so the image banding family cannot drift
    from the text families' skew guard."""
    return f"""
    WITH px AS (
        SELECT doc_id,
               unicode(substr(text, CAST(i AS INTEGER), 1)) AS v,
               (i - 1) // 32 AS r, (i - 1) % 32 AS c,
               (len(text) // 32) AS h
        FROM documents, unnest(generate_series(1, (len(text) // 32) * 32)) AS u(i)
        WHERE len(text) // 32 >= 8
    ),
    blk AS (
        SELECT doc_id, (r * 8) // h AS br, (c * 8) // 32 AS bc,
               CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM px GROUP BY doc_id, br, bc
    ),
    tot AS (
        SELECT doc_id, CAST(sum(v) AS BIGINT) AS st,
               CAST(count(*) AS BIGINT) AS nt
        FROM px GROUP BY doc_id
    ),
    bits AS (
        SELECT b.doc_id, b.br * 8 + b.bc AS bit,
               CASE WHEN b.s * t.nt > t.st * b.n THEN 1 ELSE 0 END AS on_bit
        FROM blk b JOIN tot t USING (doc_id)
    ),
    hashes AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN bit < 32
                             THEN on_bit * (1::BIGINT << bit) ELSE 0 END)
                    AS BIGINT) AS lo,
               CAST(sum(CASE WHEN bit >= 32
                             THEN on_bit * (1::BIGINT << (bit - 32)) ELSE 0 END)
                    AS BIGINT) AS hi
        FROM bits GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, (lo & 65535) AS key FROM hashes
        UNION ALL SELECT doc_id, 1, ((lo >> 16) & 65535) FROM hashes
        UNION ALL SELECT doc_id, 2, (hi & 65535) FROM hashes
        UNION ALL SELECT doc_id, 3, ((hi >> 16) & 65535) FROM hashes
    ),
    sized AS (
        SELECT doc_id, band, key,
               count(*) OVER (PARTITION BY band, key) AS bsz,
               min(doc_id) OVER (PARTITION BY band, key) AS hub
        FROM bands
    ),
    chain AS {_chain_cte_sql("sized", "key", cap, chunk_rows)},
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            WHERE a.bsz <= {cap} OR a.doc_id = a.hub
            UNION ALL
            SELECT doc_a, doc_b FROM chain
        )
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(ha.lo, hb.lo)) AS BIGINT)
           + CAST(bit_count(xor(ha.hi, hb.hi)) AS BIGINT) AS hamming
    FROM cand c
    JOIN hashes ha ON ha.doc_id = c.doc_a
    JOIN hashes hb ON hb.doc_id = c.doc_b
    WHERE CAST(bit_count(xor(ha.lo, hb.lo)) AS BIGINT)
          + CAST(bit_count(xor(ha.hi, hb.hi)) AS BIGINT) <= 3
"""


_AHASH_ORACLE = _ahash_oracle()


def _ahash_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: decode each raw-grayscale blob and emit the
    64-bit average-hash as two 32-bit halves. All arithmetic is integer
    (block-mean vs global-mean compared by exact cross-multiply
    s*N > S*n), so the hash is bit-identical to the SQL oracle."""
    import numpy as np

    for pdf in batches:
        ids, los, his = [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            img = decode_raw_grayscale(blob, IMG_W)
            if img is None or img.shape[0] < 8:
                continue
            h, w = img.shape
            br = (np.arange(h, dtype=np.int64) * 8) // h
            bc = (np.arange(w, dtype=np.int64) * 8) // w
            idx = (br[:, None] * 8 + bc[None, :]).ravel()
            flat = img.ravel().astype(np.int64)
            s = np.bincount(idx, weights=flat, minlength=64).astype(np.int64)
            n = np.bincount(idx, minlength=64).astype(np.int64)
            st, nt = int(flat.sum()), int(h * w)
            on = (s * nt) > (st * n)
            lo = sum(1 << b for b in range(32) if on[b])
            hi = sum(1 << (b - 32) for b in range(32, 64) if on[b])
            ids.append(doc_id); los.append(lo); his.append(hi)
        yield pd.DataFrame({"doc_id": ids, "lo": los, "hi": his})


@register("k_image_ahash_dedup", oracle=_AHASH_ORACLE)
def k_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL image dedup — average-hash (aHash) over the raw-
    grayscale blobs: each image is reduced to an 8x8 grid of block
    means, each bit set iff its block is brighter than the image mean,
    and near-duplicate images are pairs within hamming distance 3 of
    the 64-bit hash — robust to small pixel noise where byte-exact
    dedup (k_exact_dedup on blobs) is blind. This is the image-side
    twin of k_simhash, and the missing piece between "decode images"
    (k_multimodal_decode) and "dedup the corpus".

    Scale design mirrors the text LSH: the hash splits into 4 bands of
    16 bits and candidates come from a band equi-join — by pigeonhole,
    hamming <= 3 flips at most 3 bands, so AT LEAST ONE band matches
    exactly: recall is 1.0 BY CONSTRUCTION at this threshold (not
    probabilistic like MinHash banding), and no all-pairs comparison
    exists anywhere. Verification is bit_count(xor) on the band hits.

    Exactness: block brightness bits compare s*N > S*n in exact
    integers (never float means), so the hash — and therefore the
    candidate set and every hamming distance — is bit-identical across
    engines; the oracle recomputes pixels via unicode(char) like
    k_multimodal_decode. Images shorter than 8 rows are excluded (an
    8x8 grid needs 8 rows; 291/500 qualify at sf0.01).

    Per-band bucket skew: near-constant images share degenerate hashes
    (all-zero bands), so the same LSH_BUCKET_CAP star+salted-chain
    guard as the text banding applies (r8) — a (band, key) group wider
    than the cap emits hub pairs plus LSH_CHAIN_SALTS deterministic
    md5-order chains, identical CTE mirrored in the oracle. Inside a
    capped bucket the pigeonhole recall-1.0 guarantee narrows to
    star/chain-reachable pairs; flat images cluster within a couple of
    bits of each other, so the hub verify keeps the clique in practice
    (the chains add independent probes for gradient families whose
    members are not hub-near, the sf0.1 text-side failure shape), and
    real pipelines pre-filter flat images by variance (px_std from
    k_multimodal_decode) before banding anyway.
    """
    d = load(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    hashes = media.mapInPandas(_ahash_worker, schema="doc_id long, lo long, hi long")

    bands = None
    for i, expr in enumerate(
        ["lo & 65535", "shiftright(lo, 16) & 65535",
         "hi & 65535", "shiftright(hi, 16) & 65535"]
    ):
        part = hashes.select(
            "doc_id", F.lit(i).alias("band"), F.expr(expr).alias("bucket")
        )
        bands = part if bands is None else bands.unionByName(part)

    # Third consumer of the shared star+salted-chain expansion (after
    # the MinHash bands and the winnow fingerprints) — migrated from a
    # verbatim copy in r10 so a cap/chain scheme change cannot
    # desynchronize the image family from the text families.
    from .dedup import capped_bucket_pairs, pair_sides

    cand = capped_bucket_pairs(bands, max_bucket_size=_CAP)
    # Verify-stage fetch (dedup.pair_sides): the hash side is one 24-byte
    # row per image, which Catalyst broadcasts under
    # autoBroadcastJoinThreshold. Hamming distance needs no set
    # intersection.
    hamming = (
        F.bit_count(F.expr("lo_a ^ lo_b")).cast("long")
        + F.bit_count(F.expr("hi_a ^ hi_b")).cast("long")
    )
    return (
        pair_sides(cand, hashes)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= 3)
    )


@register(
    "k_audio_active_segments",
    oracle="""
    WITH px AS (
        SELECT doc_id,
               unicode(substr(text, CAST(i AS INTEGER), 1)) AS v,
               (i - 1) // 32 AS f
        FROM documents, unnest(generate_series(1, (len(text) // 32) * 32)) AS u(i)
    ),
    fr AS (
        SELECT doc_id, f, CAST(sum(v * v) AS BIGINT) AS ss
        FROM px GROUP BY doc_id, f
    ),
    loud AS (
        SELECT doc_id, f,
               f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS island
        FROM fr WHERE ss >= 314000
    ),
    seg AS (
        SELECT doc_id, island, CAST(count(*) AS BIGINT) AS run_len
        FROM loud GROUP BY doc_id, island
    )
    SELECT f.doc_id,
           CAST(count(DISTINCT f.f) AS BIGINT) AS n_frames,
           CAST(count(DISTINCT CASE WHEN f.ss >= 314000 THEN f.f END) AS BIGINT)
               AS n_loud,
           coalesce(CAST(s.n_segments AS BIGINT), 0) AS n_segments,
           coalesce(s.longest_run, 0) AS longest_run
    FROM fr f
    LEFT JOIN (
        SELECT doc_id, count(*) AS n_segments, max(run_len) AS longest_run
        FROM seg GROUP BY doc_id
    ) s USING (doc_id)
    GROUP BY f.doc_id, s.n_segments, s.longest_run
    """,
)
def k_audio_active_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity segmentation over PCM audio — the VAD-shaped op (speech
    vs silence runs) built on the same framed 8-bit PCM blobs as
    k_audio_frame_rms: frames whose ENERGY (sum of squared samples —
    kept as an exact integer; RMS itself would drag sqrt floats into
    the threshold compare) clears a threshold are "active", and
    contiguous active frames fuse into segments via the gaps-and-
    islands key (frame_no - row_number, the e_streaks_islands rule).
    Per clip: frame count, active frames, segment count, longest run —
    what a speech-data pipeline stores to cut silence and bound sample
    lengths.

    Scale shape: framing + energy is one uniform (doc, frame) agg over
    the decoded stream; islands ride a doc-partitioned window; the
    rollup is doc-sized. All integer arithmetic — nothing can flip.
    """
    d = load(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("blob"))

    def frame_energy(batches):
        import numpy as np

        for pdf in batches:
            ids, fs, sss = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n = (len(blob) // FRAME_N) * FRAME_N
                if n == 0:
                    continue
                arr = (
                    np.frombuffer(blob[:n], dtype=np.uint8)
                    .reshape(-1, FRAME_N)
                    .astype(np.int64)
                )
                ss = (arr * arr).sum(axis=1)
                k = arr.shape[0]
                ids.extend([doc_id] * k)
                fs.extend(range(k))
                sss.extend(ss.tolist())
            yield pd.DataFrame({"doc_id": ids, "f": fs, "ss": sss})

    fr = media.mapInPandas(frame_energy, schema="doc_id long, f long, ss long")
    loud = fr.where(F.col("ss") >= 314000).withColumn(
        "island",
        F.col("f") - F.row_number().over(W.partitionBy("doc_id").orderBy("f")),
    )
    seg = loud.groupBy("doc_id", "island").agg(F.count("*").alias("run_len"))
    seg_stats = seg.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"), F.max("run_len").alias("longest_run")
    )
    per_doc = fr.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.count_if(F.col("ss") >= 314000).alias("n_loud"),
    )
    return per_doc.join(seg_stats, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        "n_loud",
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.coalesce("longest_run", F.lit(0)).alias("longest_run"),
    )
