"""UDF / UDAF / UDTF surface (SURVEY.md §2-J).

All Python execution is Arrow-vectorized (pandas batches over Arrow IPC);
row-at-a-time Python UDFs never appear in a hot path. These are the escape
hatches for semantics the built-in functions can't express — at 100 TB the
batch shape matters: Series->Series scalar UDFs and mapInPandas stream
whole Arrow record batches per partition, applyInPandas materializes one
group per call (fine for bounded groups, never for a skewed power-law key).
"""

from __future__ import annotations

from typing import Iterator, Tuple  # noqa: UP035 — pyspark's string-annotation
# resolver needs these as MODULE globals (typing.Tuple, not the PEP-585
# builtin) to recognize the iterator pandas-UDF signature

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import sql_round_div_e4, sql_sum_e4_2dp, sum_e4_2dp
from ..registry import register
from ..sources.io import load


def _np_half_away_int(x):
    """Half-away-from-zero integer quantization of a PRE-SCALED float64
    array (1D or 2D) — the numpy spelling of SQL round(): np.rint is
    banker's (half-to-even) and would diverge from DuckDB/Spark at
    every .5 boundary. ONE definition for every worker-side quantizer
    in this module (the basket-pairs consolidation lesson: a rounding
    fix applied to one of three hand-rolled copies silently diverges).
    Loud on NaN: a null/NaN input would otherwise pass through
    `x >= 0` as False, ceil(NaN) as NaN, and `.astype('int64')` as
    platform-defined garbage (INT64_MIN on most) — an arbitrary value
    shipped silently where the SQL oracle ranks NULL apart."""
    import numpy as np

    if np.isnan(x).any():
        raise ValueError(
            "NaN/null reached half-away-from-zero quantization — guard "
            "or filter nulls before the worker, as the oracle's NULL "
            "semantics cannot be reproduced by an int64 cast"
        )
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(
        "int64"
    )


@F.pandas_udf(T.DoubleType())
def _tiered_fee(total: pd.Series) -> pd.Series:
    """Tiered transaction fee: 1% below 10k, then 50 + 0.5%, capped 2k."""
    fee = total.where(total < 10_000.0, 50.0 + total * 0.005).where(
        total >= 10_000.0, total * 0.01
    )
    return fee.clip(upper=2_000.0)


@register(
    "j_scalar_udf",
    oracle="""
    SELECT o_orderkey,
           least(CASE WHEN o_totalprice < 10000 THEN o_totalprice * 0.01
                      ELSE 50 + o_totalprice * 0.005 END, 2000.0) AS fee
    FROM orders
    """,
)
def j_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar vectorized UDF (Series -> Series over Arrow batches).

    Row-level IEEE arithmetic: bit-identical to the CASE-based oracle,
    no rounding needed.
    """
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", _tiered_fee("o_totalprice").alias("fee"))


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-segment z-score; ddof=1 matches SQL stddev_samp."""
    mean = pdf["c_acctbal"].mean()
    std = pdf["c_acctbal"].std(ddof=1)
    out = pdf[["c_custkey", "c_mktsegment"]].copy()
    out["z"] = ((pdf["c_acctbal"] - mean) / std).round(6)
    return out


@register(
    "j_grouped_map",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6) AS z
    FROM customer
    """,
)
def j_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pattern: applyInPandas normalizes each segment
    (one pandas DataFrame per group in, one out)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInPandas(
        _zscore_group, schema="c_custkey long, c_mktsegment string, z double"
    )


@F.pandas_udf(T.DoubleType())
def _weighted_mean(price: pd.Series, weight: pd.Series) -> float:
    """Exact weighted mean at 6 dp: prices quantize losslessly to e4
    integers (2-dp money, half-away-from-zero — numpy floor(x+.5), NOT
    np.rint's banker's rounding), weights are small ints, and the
    quotient rounds with the pure-integer HALF_UP identity in Python
    arbitrary precision — the same functions/exact.py scheme, inside a
    UDAF: no float sum order or double-rounding divergence survives.
    Per-element products fit int64 (~6e10 each), but their SUM would
    wrap silently past ~1.5e8 rows per group, so the reduction is
    chunked: each 1e7-element chunk sums safely in int64 (<= 6e17) and
    the chunk totals accumulate in Python ints, which never overflow —
    exact at any group size."""
    import numpy as np

    p = price.to_numpy(dtype="float64")
    v4 = _np_half_away_int(p * 10000)
    w = weight.to_numpy(dtype="float64").astype("int64")
    prod = v4 * w
    chunk = 10_000_000
    num = sum(int(prod[i : i + chunk].sum()) for i in range(0, len(prod), chunk))
    den = sum(int(w[i : i + chunk].sum()) for i in range(0, len(w), chunk)) * 10000
    if den == 0:
        return float("nan")
    mag = (2 * 10**6 * abs(num) + den) // (2 * den)
    return (mag if num >= 0 else -mag) / 10**6


@register(
    "j_grouped_agg",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_round_div_e4(
               "sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)"
               " * (o_orderkey % 10 + 1))",
               "sum(o_orderkey % 10 + 1) * 10000", 6)} AS wmean
    FROM orders GROUP BY o_orderpriority
    """,
)
def j_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-agg pandas UDF (Series -> scalar):
    weighted mean with a synthetic deterministic weight, computed
    integer-exact inside the UDAF (see _weighted_mean) so the 6-dp
    display can never diverge from the DuckDB twin on a quotient
    boundary."""
    o = load(spark, sf_dir, "orders").withColumn(
        "w", (F.col("o_orderkey") % 10 + 1).cast("double")
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(_weighted_mean("o_totalprice", "w").alias("wmean"))
    )


@register(
    "j_udtf",
    oracle="""
    SELECT event_id, 'k' AS key, CAST(props ->> '$.k' AS BIGINT) AS value
    FROM events WHERE event_id < 500
    """,
)
def j_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one props JSON string in -> N (key, value) rows out
    (the lateral-view payload-parsing idiom as a table function)."""
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, value bigint")
    class ParseProps:
        def eval(self, props: str):
            if props:
                for k, v in json.loads(props).items():
                    yield k, int(v)

    spark.udtf.register("parse_props", ParseProps)
    load(spark, sf_dir, "events").where(F.col("event_id") < 500).createOrReplaceTempView(
        "events_udtf_src"
    )
    return spark.sql(
        """
        SELECT e.event_id, p.key, p.value
        FROM events_udtf_src e, LATERAL parse_props(e.props) p
        """
    )


@register(
    "j_map_in_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net,
           CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS bucket
    FROM lineitem
    """,
)
def j_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition transform: mapInPandas streams Arrow batches through
    a Python iterator (the custom-operator escape hatch; here a computed
    column + bucket label so it stays oracle-checkable)."""

    def transform(batches):
        for pdf in batches:
            out = pdf[["l_orderkey", "l_linenumber"]].copy()
            out["net"] = pdf["l_extendedprice"] * (1 - pdf["l_discount"])
            out["bucket"] = (pdf["l_quantity"] > 25).map({True: "bulk", False: "small"})
            yield out

    li = load(spark, sf_dir, "lineitem")
    return li.mapInPandas(
        transform, schema="l_orderkey long, l_linenumber int, net double, bucket string"
    )


@register(
    "j_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross
    FROM lineitem
    """,
)
def j_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition transform at the Arrow RecordBatch level: mapInArrow
    skips the pandas conversion entirely (zero-copy columnar compute via
    pyarrow.compute), the lowest-overhead Python escape hatch — use it when
    the per-batch logic is itself columnar.

    gross is left unrounded on both sides: the multiply chain is the same
    left-associated IEEE double expression in both engines (bit-identical),
    while per-row round(x, 2) flips ulp-boundary cases differently per
    engine across 60k rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def transform(batches):
        for batch in batches:
            price = batch.column("l_extendedprice")
            disc = batch.column("l_discount")
            tax = batch.column("l_tax")
            gross = pc.multiply(
                pc.multiply(price, pc.subtract(pa.scalar(1.0), disc)),
                pc.add(pa.scalar(1.0), tax),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"), gross],
                names=["l_orderkey", "l_linenumber", "gross"],
            )

    li = load(spark, sf_dir, "lineitem")
    return li.mapInArrow(
        transform, schema="l_orderkey long, l_linenumber int, gross double"
    )


def _fx_table() -> dict[str, float]:
    """Stand-in for a per-worker heavyweight init (model weights, fx
    rates, a tokenizer): deterministic so the oracle can mirror it."""
    return {"click": 1.0, "view": 0.25, "purchase": 8.0}


@register(
    "j_scalar_iter_udf",
    oracle="""
    SELECT event_id,
           round(value * CASE event_type WHEN 'click' THEN 1.0
                                         WHEN 'view' THEN 0.25
                                         WHEN 'purchase' THEN 8.0
                                         ELSE 0.5 END, 6) AS weighted
    FROM events
    """,
)
def j_scalar_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form scalar pandas UDF (Iterator[batches] -> Iterator):
    the amortized-init pattern — the lookup table is built ONCE per
    Python worker before the batch loop, not once per batch (for a real
    model/tokenizer this is the difference between one 5 s load per
    executor core and one per 10k rows). Same Arrow batch streaming as
    Series->Series; only the init cost moves.

    Row-level IEEE multiply, identical CASE in the oracle; round(6)
    only collapses the display, both engines compute the same double.
    """
    @F.pandas_udf(T.DoubleType())
    def weighted(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        fx = _fx_table()  # once per worker, amortized over all batches
        for event_type, value in batches:
            yield value * event_type.map(fx).fillna(0.5)

    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.round(weighted("event_type", "value"), 6).alias("weighted")
    )


def _asof_attribute(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """One user's purchases merged as-of against that user's clicks
    (backward: latest click at-or-before each purchase)."""
    if left.empty:
        # user has clicks but no purchases: nothing to attribute
        return pd.DataFrame(
            {"user_id": pd.Series(dtype="int64"),
             "purchase_ts": pd.Series(dtype="datetime64[ns]"),
             "click_ts": pd.Series(dtype="datetime64[ns]")}
        )
    purchases = left.sort_values("ts")
    if right.empty:
        # a one-sided group pair arrives as an EMPTY pdf — every
        # purchase is unattributed
        out = purchases[["user_id", "ts"]].rename(columns={"ts": "purchase_ts"})
        out["click_ts"] = pd.NaT
        return out
    clicks = right.sort_values("click_ts")
    merged = pd.merge_asof(
        purchases, clicks[["click_ts"]], left_on="ts", right_on="click_ts",
        direction="backward", allow_exact_matches=True,
    )
    out = merged[["user_id", "ts", "click_ts"]].rename(columns={"ts": "purchase_ts"})
    return out


@register(
    "j_cogroup_asof",
    oracle="""
    SELECT p.user_id, p.ts AS purchase_ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS click_ts,
           (SELECT date_diff('microsecond', max(c.ts), p.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS lag_us
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def j_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the two-sided grouped-map API: purchases
    and clicks are each grouped by user_id, and each (left, right) group
    PAIR lands in one pandas call, here running `pd.merge_asof` for
    last-touch click attribution (which prior click drove each purchase).

    This is the escape hatch for per-key merge logic with no relational
    form (as-of itself has one — see c_join_asof — but e.g. interval
    interpolation or per-key reconciliation do not); the cogroup shuffle
    co-partitions BOTH inputs on user_id in a single exchange each, so at
    100 TB it costs exactly what the equivalent join would, and the group
    pair stays bounded (one user's events), never power-law.

    The lag is computed JVM-side from the matched timestamps
    (microsecond-exact integer arithmetic — see e_merge_intervals for why
    second-granular forms drift per engine); the oracle mirrors as-of
    with a correlated max(ts <= ts) subquery, an O(n²)-ish shape that is
    fine for DuckDB at sf0.01 and exactly what you must not run at scale.

    Gotcha (pinned here by the renamed right column): when both cogroup
    sides are filters of the SAME parent plan, the analyzer resolves the
    right side's columns to the left side's attribute IDs and PRUNES
    them from the right projection — the right pdf then arrives with the
    grouping key only (silent at plan time, KeyError in the worker).
    Aliasing the right side's payload column mints a fresh attribute ID
    and breaks the false identity, same family as the self-join
    ambiguity Spark documents for join(df, df).
    """
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    matched = purchases.groupBy("user_id").cogroup(clicks.groupBy("user_id")).applyInPandas(
        _asof_attribute,
        schema="user_id long, purchase_ts timestamp, click_ts timestamp",
    )
    return matched.select(
        "user_id",
        "purchase_ts",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def _ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user EWMA over the hour-ordered series; adjust=True is the
    direct weighted form sum((1-a)^(t-i) x_i) / sum((1-a)^(t-i)) — the
    exact closed form the SQL oracle mirrors with a pairwise join."""
    pdf = pdf.sort_values("hr")
    out = pdf[["user_id", "hr"]].copy()
    out["ewma"] = pdf["v"].ewm(alpha=0.3, adjust=True).mean().round(6)
    return out


@register(
    "j_ewma_grouped",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               {sql_sum_e4_2dp("value")} AS v,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY date_trunc('hour', ts)) AS rn
        FROM events WHERE user_id < 20
        GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT a.user_id, a.hr,
           round(sum(power(0.7, a.rn - b.rn) * b.v)
                 / sum(power(0.7, a.rn - b.rn)), 6) AS ewma
    FROM hourly a JOIN hourly b
      ON b.user_id = a.user_id AND b.rn <= a.rn
    GROUP BY a.user_id, a.hr
    """,
)
def j_ewma_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user — the smoothed-
    metric idiom (alerting baselines, spend trends) whose recursive
    definition has no built-in Spark window form: a grouped-map pandas
    UDF applies pandas' vectorized `ewm` to each user's hour-ordered
    series. The oracle reproduces the identical adjust=True closed form
    with an O(n_u^2) pairwise self-join — fine for an oracle at sf0.01,
    exactly the shape you must NOT run at scale; the applyInPandas
    pass is O(n_u) per user.

    Group = one user's hourly series (bounded: hours per month, never
    power-law) — the safe applyInPandas regime per this module's
    header. Input values are the ROUNDED hourly sums so both engines
    weight identical constants; (0.7)^k underflows to +0.0 identically
    in IEEE doubles, so deep tails cannot diverge.
    """
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(sum_e4_2dp(F.col("value")).alias("v"))
    return hourly.groupBy("user_id").applyInPandas(
        _ewma_group, schema="user_id long, hr timestamp, ewma double"
    )


@register(
    "j_embedding_score_batch",
    oracle="""
    WITH w AS (
        SELECT i,
               ('0x' || substr(md5('w:' || i), 1, 15))::BIGINT % 2001 - 1000
                   AS wi
        FROM range(0, 64) t(i)
    )
    SELECT vec_id, score_int,
           -- exact half-away display: round(score_int/1e9, 6) ==
           -- sign * ((2*|s| + 1000) // 2000) / 1e6 in pure integers —
           -- rounding the DOUBLE quotient instead diverges at .5
           -- boundaries (numpy banker's vs binary half-away)
           (CASE WHEN score_int >= 0
                 THEN (2 * score_int + 1000) // 2000
                 ELSE -((2 * (-score_int) + 1000) // 2000) END)
               / 1000000.0 AS score,
           score_int > 0 AS positive
    FROM (
        SELECT e.vec_id,
               CAST(sum(CAST(round(CAST(e.embedding[w.i + 1] AS DOUBLE)
                                   * 1000000, 0) AS BIGINT)
                        * w.wi) AS BIGINT) AS score_int
        FROM embeddings e CROSS JOIN w
        GROUP BY e.vec_id
    )
    """,
)
def j_embedding_score_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference over embeddings — the production shape for
    scoring a 100 TB corpus with a trained head: weights live in the
    task closure (broadcast once per executor), data streams through
    mapInPandas as Arrow record batches, and the score is ONE numpy
    matrix-vector product per batch — vectorized C, no per-row Python.

    The determinism trick that lets a BLAS-ordered reduction be
    hash-checked at all: the matmul runs in EXACT int64 (embeddings
    quantized to e6, md5-derived weights are integers in [-1000,
    1000]), and integer addition commutes — so numpy's SIMD/blocked
    summation order is irrelevant and DuckDB's sequential list sum
    reproduces the score bit-for-bit. A float32/float64 dot product
    here would differ in final ulps per batch shape (the
    k_char_entropy lesson applied to linear algebra). Headroom:
    |term| <= 1e6 * 1000, x64 dims -> 6.4e10 << 2^63. Two quantization
    seams live in the oracle: numpy rint is banker's rounding where
    round() is half-away-from-zero, and DuckDB multiplies FLOAT *
    INTEGER in float32 — the embedding must be CAST to DOUBLE before
    scaling or a value like -0.18802149 lands on the wrong side of
    the .5 boundary.

    The 'model' is a deterministic linear probe; swapping in real
    learned weights (or an ONNX session initialized once per worker in
    the iterator form, j_scalar_iter_udf's pattern) changes nothing
    about the Spark plumbing, which is what this operator pins.
    """
    import numpy as np

    from hashlib import md5 as _md5

    dims = 64
    w_int = np.array(
        [
            int(_md5(f"w:{i}".encode()).hexdigest()[:15], 16) % 2001 - 1000
            for i in range(dims)
        ],
        dtype=np.int64,
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("score_int", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("positive", T.BooleanType()),
        ]
    )

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            e = np.stack(pdf["embedding"].to_numpy())  # (n, 64) float32/64
            xe = e.astype(np.float64) * 1_000_000
            # HALF-AWAY-FROM-ZERO, not np.rint: rint rounds half-to-even
            # (banker's), while DuckDB/Spark round() rounds half away from
            # zero — the recorded k_multimodal_decode gotcha, now in numpy.
            e_int = _np_half_away_int(xe)
            s = e_int @ w_int  # exact int64 matvec
            # exact half-away 6-dp display from the INTEGER score:
            # round(s/1e9, 6) == sign(s)*((2|s|+1000)//2000)/1e6 — never
            # round the double quotient (np.round is banker's at the
            # boundary, DuckDB round() is binary half-away; measured
            # value-identical to the old np.round display on both
            # fixture SFs)
            mag = (2 * np.abs(s) + 1000) // 2000
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "score_int": s,
                    "score": np.where(s >= 0, mag, -mag) / 1_000_000.0,
                    "positive": s > 0,
                }
            )

    return emb.mapInPandas(score_batches, out_schema)


@register(
    "j_grouped_map_arrow",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY CAST(round(c_acctbal * 10000, 0) AS BIGINT), c_custkey
           ) AS BIGINT) AS rnk,
           CAST(round(c_acctbal * 10000, 0) AS BIGINT)
               - min(CAST(round(c_acctbal * 10000, 0) AS BIGINT)) OVER (
                   PARTITION BY c_mktsegment
               ) AS delta_e4
    FROM customer
    """,
)
def j_grouped_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE grouped map (Spark 4 `applyInArrow`): one
    pyarrow.Table per group in, one out — the applyInPandas sibling
    (j_grouped_map) minus the pandas conversion, for group logic that
    is itself columnar or needs exact integer arithmetic that pandas'
    float coercion would corrupt. Here each market segment is ranked
    by (e4 balance, custkey) and measured as delta from the segment
    minimum — ALL integer ops (the half-away-from-zero e4
    quantization is numpy floor(x+0.5), never np.rint's banker's
    rounding, matching round() in both engines' SQL), so the output
    is bit-exact regardless of worker or batch layout.

    Same whole-group-per-worker adjudication as j_grouped_map: the
    grouped-map API ships each group to one Python worker BY CONTRACT
    — that is its semantics, demonstrated over the 5 bounded market
    segments; a corpus-keyed rank rides grouped_row_number or the
    chunked window family instead."""
    import numpy as np
    import pyarrow as pa

    def rank_delta(table: "pa.Table") -> "pa.Table":
        bal = table.column("c_acctbal").to_numpy(zero_copy_only=False)
        key = table.column("c_custkey").to_numpy(zero_copy_only=False)
        e4b = _np_half_away_int(bal * 10000)
        order = np.lexsort((key, e4b))
        rnk = np.empty(len(key), dtype="int64")
        rnk[order] = np.arange(1, len(key) + 1)
        return pa.table(
            {
                "c_custkey": pa.array(key, type=pa.int64()),
                "c_mktsegment": table.column("c_mktsegment"),
                "rnk": pa.array(rnk, type=pa.int64()),
                "delta_e4": pa.array(e4b - e4b.min(), type=pa.int64()),
            }
        )

    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInArrow(
        rank_delta,
        schema="c_custkey long, c_mktsegment string, rnk long, delta_e4 long",
    )
