"""Window-function operators (SURVEY.md §2-E).

E1 (`e_dedupe_latest`) is the reference's single most important idiom:
Opay-style warehouses deduplicate MySQL binlog snapshots with
``row_number() over (partition by pk order by update_time desc) = 1``
(SURVEY.md §2-E). All windows here partition by a key, so at 100 TB each
group sorts independently after one shuffle — no global sort anywhere.

Determinism: every window ORDER BY carries a unique tiebreaker
(event_id / orderkey) unless rank-ties are the point (e_rank_dense);
ranking outputs are cast to long to match DuckDB's BIGINT.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, WindowSpec
from pyspark.sql import functions as F

from ..functions.exact import (
    display_2dp,
    e4,
    round_div_e4,
    sql_display_2dp,
    sql_round_div_e4,
    sql_sum_e4,
    sql_sum_e4_2dp,
    sum_e4_2dp,
)
from ..registry import register
from ..sources.io import load


@register(
    "e_dedupe_latest",
    oracle="""
    SELECT user_id, event_id, ts, value
    FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def e_dedupe_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the latest row per key — the binlog-snapshot dedup idiom.

    Implemented as a max_by AGGREGATION, not a row_number window, so
    one celebrity key cannot pin one task: an aggregate
    gets map-side partial combine, so each input partition emits ONE
    candidate row per key before the shuffle and a 100M-event celebrity
    user costs one tiny merge instead of one task sorting 100M rows —
    window functions must co-locate a key's entire row set, and AQE's
    skew splitting explicitly cannot help them (OptimizeSkewedJoin
    rewrites joins only; splitting a window partition would break its
    semantics). The ordering struct (ts, -event_id) reproduces the
    window's tie-break exactly (latest ts, then smallest event_id), so
    results are identical to the row_number form. Measured at sf0.1 on
    the bench's Arrow path (min of 7): max_by 41.6 ms, max(struct)
    47.8 ms, row_number window 52.5 ms — the skew-immune form is also
    the locally fastest. (At true binlog scale, pair with partition
    pruning on the dt landing partition.)
    """
    ev = load(spark, sf_dir, "events")
    latest = F.max_by(
        F.struct("event_id", "ts", "value"),
        F.struct(F.col("ts"), (-F.col("event_id")).alias("nid")),
    )
    return (
        ev.groupBy("user_id")
        .agg(latest.alias("r"))
        .select("user_id", "r.event_id", "r.ts", "r.value")
    )


@register(
    "e_rank_dense",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice,
           CAST(rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS drnk
    FROM part
    """,
)
def e_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank & dense_rank with ties (no tiebreaker on purpose: rank values
    are deterministic functions of the order key even under ties)."""
    p = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return p.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "e_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
               ) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def e_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (report idiom). Spark pushes the rn<=3
    filter into the window sort (WindowGroupLimit), so each group keeps
    only 3 rows during the shuffle-sort — the plan that survives scale."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "e_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(ts)     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM events
    """,
)
def e_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prior/next event per user (funnel / retention building block).
    Shifts come from `with_chunked_shifts` (celebrity-key-immune: the
    window keys on (user_id, 30-day chunk) with chunk-grain boundary
    stitching; hash-identical to the classic single window, which
    `chunk_days=None` still provides)."""
    ev = load(spark, sf_dir, "events")
    return with_chunked_shifts(
        ev,
        "user_id",
        "ts",
        "event_id",
        lags={"prev_ts": "ts"},
        leads={"next_value": "value"},
    ).select("event_id", "user_id", "ts", "prev_ts", "next_value")


@register(
    "e_rolling_rows",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {sql_round_div_e4('sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)', '(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 10000)', 6)} AS avg7,
           {sql_display_2dp('sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)')} AS sum7
    FROM orders
    """,
)
def e_rolling_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average/sum per customer — on the celebrity-immune
    row-tail carry (`with_chunked_trailing_rows_sums`: each chunk's last
    6 rows re-enter the next present chunk as non-emitting frame
    feeders, so the 7-row frame completes inside (customer, 30-day
    chunk) windows; hash-identical to the classic single customer-keyed
    sort). Exact e4 frame sums; the frame avg divides by the windowed
    count with the pure-integer HALF_UP identity (functions/exact)."""
    o = load(spark, sf_dir, "orders")
    framed = with_chunked_trailing_rows_sums(
        o,
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        {"_sum4": e4(F.col("o_totalprice")), "_n": F.lit(1)},
        n_prev=6,
    )
    return framed.select(
        "o_orderkey",
        "o_custkey",
        round_div_e4(F.col("_sum4"), F.col("_n") * 10000, 6).alias("avg7"),
        display_2dp(F.col("_sum4")).alias("sum7"),
    )


@register(
    "e_range_frame",
    oracle="""
    SELECT p_partkey, p_brand, p_size,
           count(*) OVER (
               PARTITION BY p_brand ORDER BY p_size
               RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_close
    FROM part
    """,
)
def e_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: parts within 2 size units below, per brand."""
    p = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_size").rangeBetween(-2, W.currentRow)
    return p.select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.count("*").over(w).alias("n_close"),
    )


@register(
    "e_cumulative",
    oracle=f"""
    SELECT event_id, user_id, ts,
           {sql_display_2dp('sum(CAST(round(value * 10000, 0) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS running_value
    FROM events
    """,
)
def e_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per user over time. The running sum comes from
    `with_chunked_running_sums` (celebrity-key-immune chunked prefix
    sums; exact e4 decimal measures make the chunked form bit-identical
    to the classic window — and measurably faster at sf0.1)."""
    ev = load(spark, sf_dir, "events")
    return with_chunked_running_sums(
        ev, "user_id", "ts", "event_id", {"_cum4": e4(F.col("value"))}
    ).select(
        "event_id",
        "user_id",
        "ts",
        display_2dp(F.col("_cum4")).alias("running_value"),
    )


@register(
    "e_ntile",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
    FROM customer
    """,
)
def e_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing of customers by balance. `ntile` over a bare
    ORDER BY would single-partition the table, so the global rank comes
    from the distributed global_row_number and the bucket is derived
    arithmetically: with total = 4*size + rem, SQL NTILE gives the first
    `rem` buckets `size+1` rows — rn maps to its bucket in one map-side
    expression, no global WindowExec anywhere."""
    from .relational import global_row_number

    c = load(spark, sf_dir, "customer")
    ranked = global_row_number(c, F.col("c_acctbal"), F.col("c_custkey"))
    tot = c.agg(F.count("*").alias("_tot"))
    r = ranked.crossJoin(F.broadcast(tot))
    size = F.floor(F.col("_tot") / 4)
    rem = F.col("_tot") % 4
    big = size + 1
    quartile = (
        F.when(
            F.col("rn") <= rem * big, F.floor((F.col("rn") - 1) / big) + 1
        )
        .otherwise(rem + F.floor((F.col("rn") - 1 - rem * big) / size) + 1)
        .cast("long")
    )
    return r.select("c_custkey", quartile.alias("quartile"))


@register(
    "e_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_total,
           last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_total
    FROM orders
    """,
)
def e_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order value per customer — min_by/max_by AGGREGATES on
    the (o_orderdate, o_orderkey) order key joined back to the rows (the
    e_dedupe_latest celebrity-key pattern: partial combine emits one
    candidate per key per input partition and the equi-join is
    AQE-skew-splittable, where the classic full-frame
    first_value/last_value window buffers a whole key's rows in one
    task). SQL's explicit-full-frame subtlety lives in the oracle: the
    default window frame would silently truncate last_value at
    CURRENT ROW."""
    o = load(spark, sf_dir, "orders")
    ordk = F.struct("o_orderdate", "o_orderkey")
    fl = o.groupBy("o_custkey").agg(
        F.min_by("o_totalprice", ordk).alias("first_total"),
        F.max_by("o_totalprice", ordk).alias("last_total"),
    )
    return o.join(fl, "o_custkey").select(
        "o_orderkey",
        "o_custkey",
        "first_total",
        "last_total",
    )


def sessionize(
    ev: DataFrame,
    gap_micros: int = 30 * 60 * 1_000_000,
    chunk_days: int | None = 30,
) -> DataFrame:
    """Gap-based sessionization over (user_id, ts, event_id) rows, in
    one of two plan shapes selected by ``chunk_days``.

    The DEFAULT is the chunked, celebrity-immune form with 30-day
    chunks — measured FASTER than the single-window form on the
    bench's Arrow path at sf0.1 (103.5 ms vs 139.2 ms, min of 7; the
    chunk-grain stages parallelize better than one big per-user sort)
    while bounding the heaviest task at one user's busiest 30 days.

    ``chunk_days=None``: the classic two-stacked-windows form — lag ->
    gap flag -> cumulative-sum sid — over ONE (user_id) shuffle+sort.
    One task must sort a user's ENTIRE event history: windows co-locate
    their whole partition, and AQE's skew handling (OptimizeSkewedJoin)
    rewrites joins only, never windows. Keep it only where per-user
    cardinality is known-bounded and the simpler plan matters.

    ``chunk_days=N``: the celebrity-immune form. Events sessionize
    within (user_id, N-day chunk) windows; chunk boundaries stitch at
    CHUNK grain: per (user_id, chunk) a lag gives ``m`` (1 iff the
    chunk's first session continues the previous chunk's last — gap
    <= gap_micros) and a prefix sum gives ``cum`` = sessions completed
    in earlier chunks; global sid = cum + lsid - m (m=1 shifts the
    whole chunk's ordinals down one and folds its first session into
    the previous sid — chains through any number of single-session
    chunks by induction). The heaviest task then holds one user's
    busiest N days, never their lifetime; every other stage runs at
    session or chunk grain. Hash-identical to the default form on all
    three fixture SFs and on hypothesis-adversarial inputs (boundary
    events at exactly gap_micros, midnight-straddling gaps, multi-chunk
    continuous chains) — pinned by tests.

    Micro-second gap comparison in both forms (casting to long seconds
    would flip sessions whose gap straddles the boundary by a fraction
    of a second).
    """
    um = F.unix_micros("ts")
    if chunk_days is None:
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        gap = um - F.lag(um).over(w)
        flagged = ev.withColumn(
            "new_s", F.when(gap.isNull() | (gap > gap_micros), 1).otherwise(0)
        )
        sessions = flagged.withColumn(
            "sid",
            F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        return sessions.groupBy("user_id", "sid").agg(
            F.count("*").alias("n"), F.min("ts").alias("s"), F.max("ts").alias("e")
        )
    div = 86_400_000_000 * chunk_days
    # Explicit null-key filter, so the two branches share one exchange: the
    # final stitch joins `lsess` with `cg` on (user_id, chunk), and both
    # relations recompute this events subtree. Catalyst pushes the
    # join's inferred isnotnull(chunk) below the (user_id, chunk)
    # windows on the lsess branch but NOT below cg's user_id-grain
    # window (chunk is not a partition key there), so the two
    # otherwise-identical window exchanges canonicalize differently and
    # AQE stage reuse cannot dedupe them — the events scan+shuffle ran
    # twice. Pinning the filter here makes the branches canonically
    # equal (one reused exchange). Result-identical: a null user_id/ts
    # row can never survive the inner join on (user_id, chunk) anyway.
    ch = ev.select(
        "user_id", "ts", "event_id", um.alias("um"),
        _chunk_id("ts", div).alias("chunk"),
    ).where(F.col("user_id").isNotNull() & F.col("chunk").isNotNull())
    wloc = W.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    gap = F.col("um") - F.lag("um").over(wloc)
    lsess = (
        ch.withColumn(
            "new_s", F.when(gap.isNull() | (gap > gap_micros), 1).otherwise(0)
        )
        .withColumn(
            "lsid",
            F.sum("new_s").over(wloc.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "chunk", "lsid")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.min("um").alias("s_um"),
            F.max("um").alias("e_um"),
        )
    )
    wc = W.partitionBy("user_id").orderBy("chunk")
    boundary_gap = F.col("first_s_um") - F.lag("last_e_um").over(wc)
    cg = (
        lsess.groupBy("user_id", "chunk")
        .agg(
            F.max("lsid").alias("n_sess"),
            F.min("s_um").alias("first_s_um"),
            F.max("e_um").alias("last_e_um"),
        )
        .withColumn("m", F.when(boundary_gap <= gap_micros, 1).otherwise(0))
        .withColumn(
            "cum",
            F.coalesce(
                F.sum(F.col("n_sess") - F.col("m")).over(
                    wc.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    return (
        lsess.join(cg.select("user_id", "chunk", "m", "cum"), ["user_id", "chunk"])
        .select(
            "user_id",
            (F.col("cum") + F.col("lsid") - F.col("m")).alias("sid"),
            "n", "s", "e",
        )
        .groupBy("user_id", "sid")
        .agg(F.sum("n").alias("n"), F.min("s").alias("s"), F.max("e").alias("e"))
    )


_CHUNK_RESERVED = ("_chunk", "_rn", "_cnt")


def _chunk_id(ts: str, div: int):
    """FLOOR-division chunk id from epoch-micros. Spark's `div` truncates
    toward zero, so a bare `unix_micros(ts) div n` makes chunk 0 span
    TWO chunk widths for pre-1970 timestamps (negative micros) — the
    one-chunk tail carries would then miss in-window rows across the
    chunk -1/0 boundary. The nonnegative-remainder identity
    `(x - pmod(x, n)) div n` is exact integer floor division for any
    sign (numerator exactly divisible, so truncation == floor — the
    repo-wide idiom, see aggregates.py block split)."""
    um = "unix_micros(`{}`)".format(ts.replace("`", "``"))
    return F.expr(f"({um} - pmod({um}, {div})) div {div}")


def _guard_chunk_names(ev: DataFrame, outs, internals=()) -> None:
    """Collision guard for the chunk-helper family: the
    helpers inject internal columns (`internals` — the exact generated
    names for THIS call) and the caller-chosen output names into the
    frame; a caller column with one of those names makes the join/select
    ambiguous or silently wrong. Output names must be fresh in the frame
    and distinct from this call's internal names (internal compositions
    legitimately pick `_`-prefixed outputs, so only EXACT collisions
    are rejected, not the whole underscore namespace)."""
    if internals:
        clash = sorted(set(ev.columns) & {*internals, *_CHUNK_RESERVED})
        if clash:
            raise ValueError(
                f"column(s) {clash!r} collide with chunk-helper internals"
            )
    outs = list(outs)
    dup = sorted({o for o in outs if outs.count(o) > 1})
    if dup:
        raise ValueError(
            f"output name(s) {dup!r} requested more than once in a single "
            "call — the result would carry duplicate columns and any "
            "downstream reference would be ambiguous"
        )
    bad = sorted(set(outs) & set(ev.columns))
    if bad:
        raise ValueError(
            f"output name(s) {bad!r} already exist in the input frame — "
            "the result select would silently shadow or duplicate them"
        )
    shadowing = sorted(set(outs) & {*internals, *_CHUNK_RESERVED})
    if shadowing:
        raise ValueError(
            f"output name(s) {shadowing!r} collide with this helper's "
            "internal column names"
        )


def _chunked(ev: DataFrame, ts: str, chunk_days: int) -> DataFrame:
    for c in _CHUNK_RESERVED:
        if c in ev.columns:
            raise ValueError(f"column {c!r} collides with chunk-helper internals")
    div = 86_400_000_000 * chunk_days
    return ev.withColumn("_chunk", _chunk_id(ts, div))


_RUNNING = (W.unboundedPreceding, W.currentRow)


class Scan(NamedTuple):
    """One running aggregate for `chunked_scan`.

    ``local(w)`` is the running value over the ordered window ``w``
    (``local`` picks its own frame); ``chunk`` aggregates one whole
    chunk; ``prefix(wc, c)`` folds the chunk aggregates ``c`` of the
    strictly earlier chunks over the chunk-grain window ``wc``; and
    ``combine(p, l)`` merges that prefix into a local value. The law
    every scan keeps: ``combine(prefix over no chunks, x) == x``, so the
    single-window form is ``local`` alone."""

    local: Callable[[WindowSpec], Column]
    chunk: Column
    prefix: Callable[[WindowSpec, Column], Column]
    combine: Callable[[Column, Column], Column]


def chunked_scan(
    ev: DataFrame,
    key: str,
    order: list[str],
    scans: dict[str, Scan],
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append running aggregates over each ``key``'s ``order``-ordered
    stream, celebrity-key-immune: the one chunk stitch behind every
    per-key prefix scan. ``scans`` maps output name -> `Scan`; the
    result is ``ev``'s columns plus one column per output.

    ``order[0]`` is the timestamp the stream is cut on: each row lands
    in a ``chunk_days``-day chunk, ``local`` runs inside (key, chunk)
    windows, each (key, chunk) publishes its ``chunk`` aggregate, a
    chunk-grain window folds the earlier chunks into an exclusive
    ``prefix``, and one join on (key, chunk) hands each row
    ``combine(prefix, local)``. The chunk is monotone in the
    timestamp, so the global stream is the concatenation of the chunk
    streams and the result equals the single-window form for any
    ASSOCIATIVE scan (sum, max, last-non-null, set and sketch union).
    The heaviest window task then holds one key's busiest
    ``chunk_days`` days, never its lifetime — AQE cannot split a window
    partition, so celebrity keys are engineered out structurally; the
    chunk-grain stages also parallelize better than one per-key sort.
    ``chunk_days=None`` is the classic single window partitioned by
    ``key`` alone, which the property tests compare against.

    Ordering: ``order`` SHOULD be a total order per key when the outputs
    feed row-attached downstream logic. A non-unique tie is safe only
    for multiset-invariant consumers (e.g. e_peak_concurrency, which
    emits the per-key MAX over equal-delta peer permutations); a
    multi-STAGE composition under a non-total order can attach a
    stage-1 value to a DIFFERENT stage-2 peer order and corrupt the
    composition (the e_merge_intervals duplicate-interval bug — classic
    stacked windows dodge it only by sharing one physical sort).
    """
    outs = list(scans)
    if chunk_days is None:
        _guard_chunk_names(ev, outs)
        w = W.partitionBy(key).orderBy(*order)
        return ev.select("*", *[s.local(w).alias(o) for o, s in scans.items()])
    _guard_chunk_names(
        ev, outs, internals=[f"_{p}_{o}" for o in outs for p in ("l", "c", "p")]
    )
    ch = _chunked(ev, order[0], chunk_days)
    wloc = W.partitionBy(key, "_chunk").orderBy(*order)
    loc = ch.select("*", *[s.local(wloc).alias(f"_l_{o}") for o, s in scans.items()])
    chunks = ch.groupBy(key, "_chunk").agg(
        *[s.chunk.alias(f"_c_{o}") for o, s in scans.items()]
    )
    wc = W.partitionBy(key).orderBy("_chunk").rowsBetween(W.unboundedPreceding, -1)
    pre = chunks.select(
        key,
        "_chunk",
        *[s.prefix(wc, F.col(f"_c_{o}")).alias(f"_p_{o}") for o, s in scans.items()],
    )
    return loc.join(pre, [key, "_chunk"]).select(
        *[F.col(c) for c in ev.columns],
        *[
            s.combine(F.col(f"_p_{o}"), F.col(f"_l_{o}")).alias(o)
            for o, s in scans.items()
        ],
    )


def with_chunked_shifts(
    ev: DataFrame,
    key: str | list[str],
    ts: str,
    tie: str,
    lags: dict[str, str] | None = None,
    leads: dict[str, str] | None = None,
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append lag-1 / lead-1 columns over each ``key``'s (ts, tie)-ordered
    stream, celebrity-key-immune (the sessionize chunking generalized to
    the whole lag family): shifts are
    computed inside (key, chunk_days-day chunk) windows, and only the
    chunk-BOUNDARY rows stitch from a chunk-grain table (per (key,
    chunk): the last lag-source and first lead-source values, shifted at
    chunk grain). ``chunk`` is monotone in ``ts``, so the global stream
    is exactly the concatenation of chunk streams and the stitched
    result is identical to the single-window form BY CONSTRUCTION
    (pinned on boundary-adversarial + celebrity fixtures). The heaviest
    window task then holds one key's busiest ``chunk_days`` days, never
    its lifetime — AQE cannot split a window partition, so celebrity
    keys must be engineered out structurally.

    ``lags``/``leads`` map output name -> source column (shift 1 only;
    lead-k is `with_chunked_lead_seq`). ``chunk_days=None`` gives the classic
    single-window plan. Measured at sf0.1 on the bench's Arrow path
    (min of 7): chunked 129.7 ms vs classic 117.4 for e_lag_lead — the
    10% local cost buys the bounded-task guarantee (the t_q18 one-scan
    precedent: scale-correct shape at small local cost).
    """
    lags = lags or {}
    leads = leads or {}
    keys = [key] if isinstance(key, str) else list(key)
    if chunk_days is None:
        _guard_chunk_names(ev, [*lags, *leads])
        w = W.partitionBy(*keys).orderBy(ts, tie)
        cols = [F.lag(src).over(w).alias(out) for out, src in lags.items()]
        cols += [F.lead(src).over(w).alias(out) for out, src in leads.items()]
        return ev.select("*", *cols)
    _guard_chunk_names(
        ev,
        [*lags, *leads],
        internals=[
            *(f"_{p}_{o}" for o in lags for p in ("lag", "last", "prev")),
            *(f"_{p}_{o}" for o in leads for p in ("lead", "first", "next")),
        ],
    )
    ch = _chunked(ev, ts, chunk_days)
    wloc = W.partitionBy(*keys, "_chunk").orderBy(ts, tie)
    wcnt = W.partitionBy(*keys, "_chunk")
    ordk = F.struct(F.col(ts), F.col(tie))
    loc_cols = [F.lag(src).over(wloc).alias(f"_lag_{out}") for out, src in lags.items()]
    loc_cols += [
        F.lead(src).over(wloc).alias(f"_lead_{out}") for out, src in leads.items()
    ]
    loc = ch.select(
        "*",
        *loc_cols,
        F.row_number().over(wloc).alias("_rn"),
        F.count("*").over(wcnt).alias("_cnt"),
    )
    aggs = [F.max_by(src, ordk).alias(f"_last_{out}") for out, src in lags.items()]
    aggs += [F.min_by(src, ordk).alias(f"_first_{out}") for out, src in leads.items()]
    bnd = ch.groupBy(*keys, "_chunk").agg(*aggs)
    wc = W.partitionBy(*keys).orderBy("_chunk")
    bnd2 = bnd.select(
        *keys,
        "_chunk",
        *[F.lag(f"_last_{out}").over(wc).alias(f"_prev_{out}") for out in lags],
        *[F.lead(f"_first_{out}").over(wc).alias(f"_next_{out}") for out in leads],
    )
    j = loc.join(bnd2, [*keys, "_chunk"])
    out_cols = [
        F.when(F.col("_rn") == 1, F.col(f"_prev_{out}"))
        .otherwise(F.col(f"_lag_{out}"))
        .alias(out)
        for out in lags
    ] + [
        F.when(F.col("_rn") == F.col("_cnt"), F.col(f"_next_{out}"))
        .otherwise(F.col(f"_lead_{out}"))
        .alias(out)
        for out in leads
    ]
    return j.select(*[F.col(c) for c in ev.columns], *out_cols)


def with_chunked_running_sums(
    ev: DataFrame,
    key: str,
    ts: str,
    tie: str,
    sums: dict[str, Column],
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append INCLUSIVE running sums over each ``key``'s (ts, tie)-ordered
    stream, as `chunked_scan`s whose combine is prefix + local sum.
    Summing never re-orders the measures, so the chunked form is exact
    for integer/decimal measures (float measures would reassociate,
    which is why every caller sums e4 integers or 0/1 indicators).
    ``sums`` maps output name -> measure Column (evaluated against
    ``ev``); exclusive frames derive as ``incl - measure`` at the call
    site. (ts, tie) ordering follows the `chunked_scan` tie note.
    Measured at sf0.1 (Arrow path, min of 7): chunked 161.0 ms vs
    classic 166.8 for e_cumulative.
    """

    def running_sum(m: Column) -> Scan:
        return Scan(
            local=lambda w: F.sum(m).over(w.rowsBetween(*_RUNNING)),
            chunk=F.sum(m),
            prefix=lambda wc, c: F.coalesce(F.sum(c).over(wc), F.lit(0)),
            combine=lambda p, l: p + l,
        )

    scans = {out: running_sum(m) for out, m in sums.items()}
    return chunked_scan(ev, key, [ts, tie], scans, chunk_days)


def with_chunked_last_nonnull(
    ev: DataFrame,
    key: str,
    ts: str,
    ties: list[str],
    cols: dict[str, Column],
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append running LAST-NON-NULL columns (forward fill / as-of carry)
    over each key's (ts, *ties)-ordered stream, as `chunked_scan`s whose
    combine is coalesce(within-chunk last-non-null, prefix): each chunk
    publishes its last non-null value per measure (max_by over a
    null-when-null order key, so an all-null chunk publishes NULL and
    the prefix falls through) and a chunk-grain last(ignorenulls)
    window builds the prefix. This is the as-of-join / forward-fill
    primitive (c_join_asof's union+window carry). Ties among IDENTICAL
    (order, value) rows are harmless; anything feeding a second ordered
    stage needs a total order."""
    order = [ts, *ties]
    ordk = F.struct(*[F.col(c) for c in order])

    def last_nonnull(m: Column) -> Scan:
        return Scan(
            local=lambda w: F.last(m, ignorenulls=True).over(w.rowsBetween(*_RUNNING)),
            chunk=F.max_by(m, F.when(m.isNotNull(), ordk)),
            prefix=lambda wc, c: F.last(c, ignorenulls=True).over(wc),
            combine=lambda p, l: F.coalesce(l, p),
        )

    scans = {out: last_nonnull(m) for out, m in cols.items()}
    return chunked_scan(ev, key, order, scans, chunk_days)


def with_chunked_lead_seq(
    ev: DataFrame,
    key: str,
    ts: str,
    tie: str,
    src: str,
    outs: list[str],
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append lead-1..lead-k columns of ``src`` (k = len(outs)) over each
    key's (ts, tie)-ordered stream, celebrity-key-immune — the lead-k
    generalization the shift-1 helper can't express: a row near its
    chunk's END needs up to k rows from FOLLOWING chunks, so each (key,
    chunk) publishes its first min(k, n) src values as an ordered HEAD
    ARRAY, a chunk-grain window flattens the next k chunks' heads into
    a k-element CONTINUATION (k following present chunks always hold
    >= k rows when they exist, so the k-chunk lookahead is sufficient
    by pigeonhole), and row _rn of a chunk of size _cnt takes lead-i
    from the within-chunk lead when _rn+i <= _cnt, else from
    continuation[_rn+i-_cnt] (try_element_at: past-the-stream leads are
    NULL exactly like the classic window's). (ts, tie) must be a total
    order per key (the `chunked_scan` tie note). Exact for any src type.
    """
    k = len(outs)
    if chunk_days is None:
        _guard_chunk_names(ev, outs)
        w = W.partitionBy(key).orderBy(ts, tie)
        return ev.select(
            "*", *[F.lead(src, i + 1).over(w).alias(o) for i, o in enumerate(outs)]
        )
    _guard_chunk_names(
        ev,
        outs,
        internals=["_hr", "_heads", "_cont", *(f"_ld{i + 1}" for i in range(k))],
    )
    ch = _chunked(ev, ts, chunk_days)
    wloc = W.partitionBy(key, "_chunk").orderBy(ts, tie)
    wcnt = W.partitionBy(key, "_chunk")
    loc = ch.select(
        "*",
        *[F.lead(src, i + 1).over(wloc).alias(f"_ld{i + 1}") for i in range(k)],
        F.row_number().over(wloc).alias("_rn"),
        F.count("*").over(wcnt).alias("_cnt"),
    )
    heads = (
        ch.select(key, "_chunk", src, F.row_number().over(wloc).alias("_hr"))
        .where(F.col("_hr") <= k)
        .groupBy(key, "_chunk")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_hr"), F.col(src)))),
                lambda s: s.getField(src),
            ).alias("_heads")
        )
    )
    wc = W.partitionBy(key).orderBy("_chunk")
    cont = heads.select(
        key,
        "_chunk",
        F.slice(
            F.flatten(
                F.array(
                    *[
                        F.coalesce(
                            F.lead("_heads", i + 1).over(wc),
                            F.array().cast(f"array<{ev.schema[src].dataType.simpleString()}>"),
                        )
                        for i in range(k)
                    ]
                )
            ),
            1,
            k,
        ).alias("_cont"),
    )
    j = loc.join(cont, [key, "_chunk"])
    out_cols = [
        F.when(
            F.col("_rn") + (i + 1) <= F.col("_cnt"), F.col(f"_ld{i + 1}")
        )
        .otherwise(
            # element_at indices must be INT (the h_nested_hof lesson)
            F.try_element_at(
                "_cont", (F.col("_rn") + (i + 1) - F.col("_cnt")).cast("int")
            )
        )
        .alias(out)
        for i, out in enumerate(outs)
    ]
    return j.select(*[F.col(c) for c in ev.columns], *out_cols)


def with_chunked_trailing_rows_sums(
    ev: DataFrame,
    key: str,
    ts: str,
    tie: str,
    sums: dict[str, Column],
    n_prev: int,
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append trailing ROWS-frame sums — sum of each measure over ROWS
    BETWEEN ``n_prev`` PRECEDING AND CURRENT ROW in (ts, tie) order per
    key — celebrity-key-immune via a ROW-TAIL CARRY, the rows-frame
    member of the chunk family (the time-bounded carry's positional
    twin): each (key, chunk) publishes its LAST min(n_prev, n) rows'
    (order key, measures) as an ordered tail array (built from a
    row_number-desc filter, never a whole-chunk collect), a chunk-grain
    window flattens the previous ``n_prev`` present chunks' tails
    oldest-first and keeps the last ``n_prev`` entries (sufficient by
    pigeonhole — n_prev present chunks hold >= n_prev rows), and the
    carried entries re-enter the NEXT present chunk as null-padded,
    non-emitting frame-feeder rows (chunk monotone in ts => carried
    rows sort strictly before the chunk's own). Frames of early stream
    rows see exactly their real predecessors; sums are exact for
    integer/decimal measures (every caller's). (ts, tie) must be a
    total order per key."""
    if chunk_days is None:
        _guard_chunk_names(ev, list(sums))
        w = (
            W.partitionBy(key)
            .orderBy(ts, tie)
            .rowsBetween(-n_prev, 0)
        )
        return ev.select(
            "*", *[F.sum(col).over(w).alias(out) for out, col in sums.items()]
        )
    measured = list(sums.items())
    _guard_chunk_names(
        ev,
        list(sums),
        internals=["_tr", "_tail", "_carr", "_cr", *(f"_m_{o}" for o in sums)],
    )
    ch = _chunked(ev, ts, chunk_days).select(
        "*", *[col.alias(f"_m_{out}") for out, col in measured]
    )
    m_names = [f"_m_{out}" for out, _ in measured]
    wdesc = W.partitionBy(key, "_chunk").orderBy(F.desc(ts), F.desc(tie))
    tail_rows = ch.select(
        key, "_chunk", ts, tie, *m_names,
        F.row_number().over(wdesc).alias("_tr"),
    ).where(F.col("_tr") <= n_prev)
    tail_struct = F.struct(F.col(ts), F.col(tie), *[F.col(m) for m in m_names])
    tails = tail_rows.groupBy(key, "_chunk").agg(
        F.array_sort(F.collect_list(tail_struct)).alias("_tail")
    )
    elem_type = (
        "struct<"
        + ",".join(
            f"{c}:{ch.schema[c].dataType.simpleString()}" for c in (ts, tie, *m_names)
        )
        + ">"
    )
    wc = W.partitionBy(key).orderBy("_chunk")
    flat = F.flatten(
        F.array(
            *[
                F.coalesce(
                    F.lag("_tail", i).over(wc),
                    F.array().cast(f"array<{elem_type}>"),
                )
                for i in range(n_prev, 0, -1)  # oldest chunk first
            ]
        )
    )
    carry = tails.select(
        key,
        "_chunk",
        # last n_prev entries; guarded because slice(x, -n, n) on an array
        # SHORTER than n returns EMPTY, not the whole array (measured) —
        # unguarded, users with short histories would lose their carries
        F.when(
            F.size(flat) > n_prev, F.slice(flat, -n_prev, n_prev)
        ).otherwise(flat).alias("_carr"),
    )
    pad = {c: F.lit(None).cast(ch.schema[c].dataType) for c in ch.columns}
    carried = carry.select(key, "_chunk", F.explode("_carr").alias("_s")).select(
        *[
            F.col(f"_s.{c}").alias(c)
            if c in (ts, tie, *m_names)
            else (F.col(c) if c in (key, "_chunk") else pad[c].alias(c))
            for c in ch.columns
        ],
        F.lit(1).alias("_cr"),
    )
    allr = ch.withColumn("_cr", F.lit(0)).unionByName(carried)
    w2 = (
        W.partitionBy(key, "_chunk")
        .orderBy(ts, tie)
        .rowsBetween(-n_prev, 0)
    )
    out = allr.select(
        "*", *[F.sum(f"_m_{o}").over(w2).alias(o) for o, _ in measured]
    )
    return out.where(F.col("_cr") == 0).select(
        *[F.col(c) for c in ev.columns], *[o for o, _ in measured]
    )


def with_chunked_running_max_excl(
    ev: DataFrame,
    key: str,
    ts: str,
    tie: str,
    col: str,
    out: str,
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append the EXCLUSIVE running max — max of ``col`` over each key's
    strictly-preceding rows in (ts, tie) order (NULL for the first row)
    — as a `chunked_scan` whose combine is greatest(prefix max,
    within-chunk exclusive max); greatest skips NULLs, which covers the
    first-row and first-chunk edges. Exact for any ordered type (pure
    comparisons, no arithmetic). (ts, tie) must be a TOTAL order per key
    when the output feeds a second ordered stage (the `chunked_scan` tie
    note). This is the interval-sweep primitive: a row starts a new span
    iff its start exceeds every previous end (e_merge_intervals)."""
    scan = Scan(
        local=lambda w: F.max(col).over(w.rowsBetween(W.unboundedPreceding, -1)),
        chunk=F.max(col),
        prefix=lambda wc, c: F.max(c).over(wc),
        combine=F.greatest,
    )
    return chunked_scan(ev, key, [ts, tie], {out: scan}, chunk_days)


def with_chunked_trailing_range_count(
    ev: DataFrame,
    key: str,
    ts: str,
    window_micros: int,
    out: str,
    chunk_days: int | None = 30,
) -> DataFrame:
    """Append the trailing time-window count per key — the number of the
    key's rows with ``ts`` in ``[t - window_micros, t]`` (inclusive both
    ends, peers-at-t included: RANGE semantics) — celebrity-immune via a
    TIME-BOUNDED TAIL CARRY, the range-frame member of the chunk
    family: rows in the last ``window_micros`` of each chunk are
    replicated into the NEXT chunk as frame-feeding carry rows that emit
    no output themselves, so every emitted row's frame is complete
    inside its (key, chunk) window. Requires ``window_micros`` <= the
    chunk span: an emitted row can then only be matched by rows in its
    own chunk or the previous chunk's carried tail — a row two chunks
    back is at least one full chunk (>= window) older by construction,
    and rows carried across an EMPTY chunk are irrelevant for the same
    reason. Replication cost is bounded by the tail fraction
    (window / chunk span — e.g. 2 h / 30 d ~ 0.3%), not by key size.
    ``chunk_days=None`` gives the classic single-window plan.
    """
    if chunk_days is None:
        _guard_chunk_names(ev, [out])
        w = (
            W.partitionBy(key)
            .orderBy(F.unix_micros(F.col(ts)))
            .rangeBetween(-window_micros, 0)
        )
        return ev.select("*", F.count("*").over(w).alias(out))
    div = 86_400_000_000 * chunk_days
    if window_micros > div:
        raise ValueError(
            f"window ({window_micros} us) exceeds the chunk span ({div} us); "
            "raise chunk_days so the one-chunk tail carry stays sufficient"
        )
    _guard_chunk_names(ev, [out], internals=["_carry"])
    um = F.unix_micros(F.col(ts))
    ch = _chunked(ev, ts, chunk_days).withColumn("_carry", F.lit(0))
    tail = (
        ch.where(um >= (F.col("_chunk") + 1) * div - window_micros)
        .withColumn("_chunk", F.col("_chunk") + 1)
        .withColumn("_carry", F.lit(1))
    )
    w = (
        W.partitionBy(key, "_chunk")
        .orderBy(um)
        .rangeBetween(-window_micros, 0)
    )
    counted = ch.unionByName(tail).select("*", F.count("*").over(w).alias(out))
    return counted.where(F.col("_carry") == 0).select(*ev.columns, out)


@register(
    "e_sessionize_batch",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s,
               event_id
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                   AS sid
        FROM g
    )
    SELECT user_id, sid, count(*) AS n, min(ts) AS s, max(ts) AS e
    FROM s GROUP BY user_id, sid
    """,
)
def e_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch — delegates to `sessionize`
    in its default chunked (30-day) celebrity-immune form, which is
    also the locally fastest (see the helper's docstring for the
    measured comparison and the chunk_days switch)."""
    return sessionize(load(spark, sf_dir, "events"))



@register(
    "e_percent_rank",
    oracle="""
    SELECT s_suppkey, s_nationkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def e_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing within a partition: percent_rank (rank-1)/(n-1)
    and cume_dist — the percentile-position idiom for supplier scoring.
    Both are exact integer-ratio divisions, so values are bit-identical
    across engines with no rounding needed (SURVEY §5.3 / per-row-round
    trap). Unique tiebreaker s_suppkey makes ranks deterministic."""
    s = load(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


def hll_distinct_scan(value: str) -> Scan:
    """Running HLL sketch of ``value``'s distinct values: a within-chunk
    running `hll_sketch_agg`, per-chunk sketches, a chunk-grain
    `hll_union_agg` prefix, and the sketch union as combine (a key's
    first chunk has no prefix sketch and keeps its local one). Read the
    count with `hll_sketch_estimate`."""
    return Scan(
        local=lambda w: F.hll_sketch_agg(value).over(w.rowsBetween(*_RUNNING)),
        chunk=F.hll_sketch_agg(value),
        prefix=lambda wc, c: F.hll_union_agg(c).over(wc),
        combine=lambda p, l: F.when(p.isNull(), l).otherwise(F.hll_union(p, l)),
    )


@register(
    "e_window_distinct",
    oracle="""
    SELECT o_custkey, o_orderkey,
           count(DISTINCT o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS distinct_prios
    FROM orders
    """,
)
def e_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct count over a window. Spark (like Hive) rejects
    DISTINCT inside window aggregates, so the reference-family idiom is
    `size(collect_set(x) OVER w)` — here in the celebrity-immune chunked
    form: a `chunked_scan` whose combine is set UNION (associative like
    sum/max), sized afterwards — hash-identical to the classic single
    user-keyed sort. Per-row state is the distinct SET, bounded by the
    column's distinct DOMAIN (5 priorities here), not by rows; at 100 TB
    cardinalities `e_window_distinct_hll` replaces it with a fixed-size
    sketch."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    prios = Scan(
        local=lambda w: F.collect_set("o_orderpriority").over(w.rowsBetween(*_RUNNING)),
        chunk=F.collect_set("o_orderpriority"),
        prefix=lambda wc, c: F.array_distinct(
            F.flatten(
                F.coalesce(
                    F.collect_list(c).over(wc),
                    F.array().cast("array<array<string>>"),
                )
            )
        ),
        combine=F.array_union,
    )
    return chunked_scan(
        o, "o_custkey", ["o_orderdate", "o_orderkey"], {"_prios": prios}
    ).select(
        "o_custkey",
        "o_orderkey",
        F.size("_prios").cast("long").alias("distinct_prios"),
    )


@register("e_window_distinct_hll")  # rows-only by design: HLL estimates
# are DataSketches-binary-specific; no DuckDB equivalent can hash-match.
# Engine-side accuracy is pinned against the exact form instead
# (test_properties: exact equality at the fixture's 5-value domain,
# where lgK=12 HLL is collision-free in practice).
def e_window_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running APPROXIMATE distinct count over a window — the 100 TB
    replacement for `e_window_distinct` that SCALE_DESIGN §6 promises:
    the exact form's per-row state is the distinct SET (bounded by the
    column's domain — fine for 5 priorities, fatal for high-cardinality
    columns), while this one's is a fixed ~2^lgK-register HLL sketch,
    independent of cardinality. Same chunked celebrity-immune shape
    (sketch UNION is associative exactly like set union): the
    `hll_distinct_scan` over `chunked_scan`, estimated per row.
    Accepted-error contract:
    DataSketches HLL standard error ~1.04/sqrt(2^lgK) (~1.6 % at the
    default lgK=12); at the fixture's tiny domain the estimate is exact,
    asserted against `e_window_distinct`."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return chunked_scan(
        o,
        "o_custkey",
        ["o_orderdate", "o_orderkey"],
        {"_sketch": hll_distinct_scan("o_orderpriority")},
    ).select(
        "o_custkey",
        "o_orderkey",
        F.hll_sketch_estimate("_sketch").alias("distinct_prios"),
    )


@register(
    "e_window_funnel",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS t_view
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, any_value(u.t_view) AS t_view,
               min(e.ts) FILTER (WHERE e.event_type = 'click'
                                 AND e.ts > u.t_view) AS t_click
        FROM events e JOIN u ON e.user_id = u.user_id
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, any_value(c.t_view) AS t_view,
               any_value(c.t_click) AS t_click,
               min(e.ts) FILTER (WHERE e.event_type = 'purchase'
                                 AND e.ts > c.t_click) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        GROUP BY e.user_id
    )
    SELECT depth, count(*) AS n_users FROM (
        SELECT CASE
            WHEN t_purchase IS NOT NULL
                 AND t_purchase <= t_view + INTERVAL 24 HOUR THEN 3
            WHEN t_click IS NOT NULL
                 AND t_click <= t_view + INTERVAL 24 HOUR THEN 2
            WHEN t_view IS NOT NULL THEN 1
            ELSE 0 END AS depth
        FROM p
    ) GROUP BY depth
    """,
)
def e_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (the ClickHouse `windowFunnel` analog):
    per user, how deep did view -> click -> purchase progress, with each
    later step strictly after the previous one and the whole sequence
    inside 24h of the first view. Implemented as a chain of TYPE-FILTERED
    conditional-min aggregations (r8 window-skew wave): t_view = one agg
    over view events; t_click = click events joined to the user-grain
    t_view map, filtered ts > t_view, aggregated; t_purchase likewise off
    t_click. Every stage is a partial-combining aggregate or an equi-join
    (AQE CAN skew-split joins — it can never split a window partition,
    and the previous full-partition window form buffered a celebrity
    user's whole event set in one task). Each pass scans only its own
    event type (pushed-down filter), so total I/O is roughly ONE scan
    split three ways — strictly better than shuffling every event through
    a user window; the user-grain step maps stay orders smaller than the
    event stream.

    At 100 TB this is the shape you want: funnel state per user is three
    timestamps built by partial aggregation, never a per-task event
    buffer."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    users = ev.select("user_id").distinct()
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    per_user = (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
    )
    deadline = F.col("t_view") + F.expr("INTERVAL 24 HOURS")
    depth = (
        F.when(
            F.col("t_purchase").isNotNull() & (F.col("t_purchase") <= deadline), 3
        )
        .when(F.col("t_click").isNotNull() & (F.col("t_click") <= deadline), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.select(depth.alias("depth")).groupBy("depth").agg(
        F.count("*").alias("n_users")
    )


@register(
    "e_gap_fill_forward",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               {sql_sum_e4_2dp("value")} AS v
        FROM events WHERE user_id < 30
        GROUP BY user_id, date_trunc('hour', ts)
    ),
    spans AS (
        SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly
        GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM spans
    )
    SELECT g.user_id, g.hr,
           last_value(h.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hr
               ROWS UNBOUNDED PRECEDING
           ) AS v_filled,
           h.v IS NULL AS is_gap
    FROM grid g LEFT JOIN hourly h
      ON h.user_id = g.user_id AND h.hr = g.hr
    """,
)
def e_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with forward fill — the metrics-dashboard
    densification idiom: every user gets a complete hourly grid between
    their first and last event, and silent hours carry the last
    observed hourly total forward (is_gap marks carried rows). The
    missing-hour case is what breaks naive rolling averages and
    downstream joins on (user, hour).

    Scale shape: one hourly pre-aggregation (user-keyed shuffle), a
    per-user span aggregate, a map-side `sequence()` explode to build
    the grid (no cross join against a calendar dim), a user+hour-keyed
    left join back, and ONE forward-fill window partitioned by user —
    every stage parallel over users, nothing global. The filled value
    forward-fills the ROUNDED hourly sum, so both engines carry
    identical constants. A user spanning years fans out to ~9k grid
    rows — bounded by span, not corpus; a service-wide grid would
    partition the window by (user, month) slices instead.
    """
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 30)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(sum_e4_2dp(F.col("value")).alias("v"))
    spans = hourly.groupBy("user_id").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left")
    # forward fill via the celebrity-immune chunked carry (hr is unique
    # per user, so the empty extra-ties list still gives a total order);
    # the grid is span-bounded anyway, but the helper is now a drop-in
    return with_chunked_last_nonnull(
        joined, "user_id", "hr", [], {"v_filled": F.col("v")}
    ).select(
        "user_id",
        "hr",
        "v_filled",
        F.col("v").isNull().alias("is_gap"),
    )


@register(
    "e_streaks_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    grp AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, min(d) AS streak_start,
               CAST(count(*) AS BIGINT) AS streak_days
        FROM grp GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(streak_days) AS BIGINT)          AS longest_streak,
           CAST(count(*) AS BIGINT)                  AS n_streaks,
           strftime(min(streak_start), '%Y-%m-%d')   AS first_streak_start
    FROM streaks GROUP BY user_id
    """,
)
def e_streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-active-day streaks (the
    retention/engagement-streak idiom) via the classic date-minus-
    row_number island key — calendar-consecutive grouping, distinct
    from e_sessionize_batch's time-gap sessions. Reported as longest
    streak + streak count + first streak start per user.

    Two user-keyed aggs and one user-partitioned window — all parallel
    over users, the island arithmetic is map-side; no cross-user data
    movement at any stage.
    """
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "island", F.date_sub("d", F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.min("d").alias("streak_start"), F.count("*").alias("streak_days")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.date_format(F.min("streak_start"), "yyyy-MM-dd").alias(
            "first_streak_start"
        ),
    )


@register(
    "e_value_change_points",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT user_id, event_id, event_type, prev_type
    FROM seq
    WHERE prev_type IS NULL OR prev_type <> event_type
    """,
)
def e_value_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point compaction — the polled-snapshot-to-change-feed
    idiom (a binlog substitute when upstream only exposes state dumps):
    keep a row only where the tracked value DIFFERS from the previous
    row in its (user, time) stream, dropping the steady-state
    repetition. The first row per user is kept (prev NULL = initial
    state). Output carries (new, previous) so downstream gets
    transitions, not states.

    One (user, chunk)-keyed lag window via `with_chunked_shifts` (the
    celebrity-immune lag form; hash-identical to the classic single
    shuffle); the filter is map-side after it. (ts, event_id) is a
    total order within user, so the kept set is engine-independent.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    seq = with_chunked_shifts(
        ev, "user_id", "ts", "event_id", lags={"prev_type": "event_type"}
    ).select("user_id", "event_id", "event_type", "prev_type")
    return seq.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )


@register(
    "e_merge_intervals",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s <= max(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS is_new
        FROM iv
    ),
    grouped AS (
        SELECT user_id, s, e,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                                 ROWS UNBOUNDED PRECEDING) AS grp
        FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_spans,
           CAST(sum(span_us) AS BIGINT)        AS covered_us
    FROM (
        SELECT user_id, grp,
               epoch_us(max(e) - min(s)) AS span_us
        FROM grouped GROUP BY user_id, grp
    ) GROUP BY user_id
    """,
)
def e_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-overlapping-intervals — the coverage/uptime computation
    (each event opens a 10-minute activity window; overlapping windows
    fuse): the classic sweep is a running max of interval ends — a row
    starts a NEW span iff its start exceeds every previous end — then a
    running sum of new-span flags labels the spans. Reported per user
    as span count + covered seconds (naively summing window lengths
    would double-count overlaps).

    Both sweep stages ride the celebrity-immune chunked forms
    (`with_chunked_running_max_excl` for the previous-end maximum,
    `with_chunked_running_sums` for the span labels) — max and sum are
    both associative, so the chunk-prefix stitches are exact and the
    result is hash-identical to the classic single user-partitioned
    sort. event_id rides along as the UNIQUE tiebreaker for both
    stages: the classic two-stacked-windows form could sort duplicate
    (s, e) peers arbitrarily because both windows shared ONE physical
    sort, but the chunked stages sort independently — under a non-total
    order a flag computed in stage-1 peer order would be consumed in a
    DIFFERENT stage-2 peer order and split a span (caught by the
    boundary property test; duplicate intervals are identical values,
    so the unique-tie order still yields exactly the classic spans).
    Span labels then aggregate on (user, span). Sessionize (gap between
    POINTS) and this (union of INTERVALS) are different primitives: a
    9-minute gap between two events fuses here only because the windows
    overlap, regardless of any session gap parameter.
    """
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    flagged = with_chunked_running_max_excl(
        iv, "user_id", "s", "event_id", "e", "_pm"
    ).select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.col("s") <= F.col("_pm"), 0).otherwise(1).alias("is_new"),
    )
    grouped = with_chunked_running_sums(
        flagged, "user_id", "s", "event_id", {"grp": F.col("is_new")}
    )
    spans = grouped.groupBy("user_id", "grp").agg(
        (F.unix_micros(F.max("e")) - F.unix_micros(F.min("s"))).alias("span_us")
    )
    return spans.groupBy("user_id").agg(
        F.count_distinct("grp").alias("n_spans"),
        F.sum("span_us").alias("covered_us"),
    )


@register(
    "e_rolling_median",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS v_e4
        FROM events WHERE user_id < 30
        GROUP BY 1, 2
    )
    SELECT user_id, hr, v_e4,
           median(v_e4) OVER (PARTITION BY user_id ORDER BY hr
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS med5_e4
    FROM hourly
    """,
)
def e_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the trailing 5 hourly points per user —
    the robust smoother ops dashboards use where a rolling MEAN
    (e_rolling_rows) gets dragged by one spiked hour. No
    approx_percentile: the frame is 5 rows, exact is free.

    Cross-engine exactness: the frame median interpolates the two
    middle values on even frames, and Spark's percentile computes
    a + f*(b-a) while DuckDB's median may compute (a+b)/2 — for
    arbitrary doubles those differ by an ulp. The inputs here are e4
    INTEGERS (exact hourly sums, the repo's money rule), and for
    integers under 2^52 both formulas are IEEE-exact (b-a, 0.5*(b-a),
    and a+b are all exactly representable), so the two engines agree
    bit-for-bit with no rounding.

    Scale shape: the hourly rollup is one uniform-key agg; the rolling
    frame rides a single user-partitioned sort (same shuffle class as
    every window op here); the frame holds 5 values regardless of data
    size. percentile() as a WINDOW aggregate re-sorts 5 values per row
    — constant work, not the O(frame log frame) hazard a wide frame
    would be.
    """
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 30)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(e4(F.col("value"))).cast("long").alias("v_e4"))
    w = (
        W.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(-4, W.currentRow)
    )
    return hourly.select(
        "user_id", "hr", "v_e4",
        F.percentile("v_e4", 0.5).over(w).alias("med5_e4"),
    )


@register(
    "e_anomaly_mad",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 10000, 0) AS BIGINT) AS v_e4
        FROM events
    ),
    med AS (
        SELECT event_type, median(v_e4) AS med_e4 FROM v GROUP BY event_type
    ),
    dev AS (
        SELECT v.event_type, v.v_e4, m.med_e4, abs(v.v_e4 - m.med_e4) AS d
        FROM v JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, median(d) AS mad_e4 FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           min(d.med_e4) AS med_e4,
           min(m2.mad_e4) AS mad_e4,
           CAST(count(*) FILTER (d.d > 3 * m2.mad_e4) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY d.event_type
    """,
)
def e_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    resistant alternative to r_dq_anomaly_zscore (mean/stddev are
    themselves dragged by the outliers they're hunting; median/MAD have
    a 50% breakdown point): per event type, flag values whose absolute
    deviation from the median exceeds 3x the MAD.

    Everything is exact cross-engine WITHOUT rounding: inputs are e4
    integers; the median of integers interpolates to an exact .5-step
    double in both engines' formulas (the e_rolling_median argument);
    deviations are then exact .5-step doubles, their median an exact
    .25-step double, and 3*MAD exact — so the > comparison can never
    flip on ulp noise.

    Scale shape: two grouped exact medians over the k event types (at
    100 TB swap percentile() for approx_percentile's t-digest — the
    flag stays the same shape) with the k-row median/MAD tables
    broadcast back; deviations and flags are map-side; one final
    uniform-key count. No global sort, no window over the fact stream.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 10000, 0).cast("long").alias("v_e4")
    )
    med = ev.groupBy("event_type").agg(F.percentile("v_e4", 0.5).alias("med_e4"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("v_e4") - F.col("med_e4"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", 0.5).alias("mad_e4"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.min("med_e4").alias("med_e4"),
        F.min("mad_e4").alias("mad_e4"),
        F.count_if(F.col("d") > 3 * F.col("mad_e4")).alias("n_outliers"),
        F.count("*").alias("n"),
    )


@register(
    "e_peak_concurrency",
    oracle="""
    WITH bounds AS (
        SELECT user_id, ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT user_id, ts + INTERVAL 10 MINUTES, -1 FROM events
    ),
    running AS (
        SELECT user_id,
               sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta)
                   AS concurrent
        FROM bounds
    )
    SELECT user_id, CAST(max(concurrent) AS BIGINT) AS peak_concurrent
    FROM running GROUP BY user_id
    HAVING max(concurrent) >= 2
    """,
)
def e_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK concurrency — the maximum number of simultaneously-open
    intervals (each event opens a 10-minute activity window): the
    capacity-planning / session-overlap primitive (concurrent rides,
    parallel requests, seats in use) that e_merge_intervals' coverage
    union deliberately erases. Classic boundary sweep: every interval
    contributes a +1 at its start and a -1 at its end, a running sum
    over the time-ordered boundaries IS the concurrency curve, and the
    per-user max is the answer.

    Tie rule: at an exact touch (one window ends where another begins)
    the ORDER BY t, delta puts the -1 FIRST, so touching-not-
    overlapping intervals never count as concurrent — and both engines
    order identically because delta is part of the sort key. Counts
    are exact integers throughout.

    Scale shape: the boundary union doubles the row count map-side,
    then the running sum rides the celebrity-immune chunked form
    (`with_chunked_running_sums` — the boundary-event window is the one
    place a celebrity user doubles down, since every event contributes
    TWO rows to their partition): within-(user, chunk) sums plus a
    chunk-grain prefix, hash-identical to the classic single sort
    because deltas are exact ±1 integers. Duplicate (t, delta) sort
    keys are harmless in both forms: equal-delta ties produce the same
    multiset of running values in any order, and only the per-user MAX
    is emitted. HAVING keeps the report at flagged-user size.
    """
    ev = load(spark, sf_dir, "events")
    starts = ev.select("user_id", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    bounds = starts.unionByName(ends)
    running = with_chunked_running_sums(
        bounds, "user_id", "t", "delta", {"concurrent": F.col("delta")}
    )
    return (
        running.groupBy("user_id")
        .agg(F.max("concurrent").alias("peak_concurrent"))
        .where(F.col("peak_concurrent") >= 2)
    )


@register(
    "e_interpolate_linear",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               {sql_sum_e4("value")} AS v
        FROM events WHERE user_id < 40
        GROUP BY user_id, date_trunc('hour', ts)
    ),
    spans AS (
        SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly
        GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM spans
    ),
    j AS (
        SELECT g.user_id, g.hr, h.v
        FROM grid g LEFT JOIN hourly h
          ON h.user_id = g.user_id AND h.hr = g.hr
    ),
    c AS (
        SELECT user_id, hr, v,
               last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER fwd AS p_hr,
               last_value(v IGNORE NULLS) OVER fwd AS p_v,
               first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER bwd AS n_hr,
               first_value(v IGNORE NULLS) OVER bwd AS n_v
        FROM j
        WINDOW
            fwd AS (PARTITION BY user_id ORDER BY hr
                    ROWS UNBOUNDED PRECEDING),
            bwd AS (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    i AS (
        SELECT user_id, hr, v,
               CASE WHEN v IS NOT NULL THEN v ELSE
                   p_v + (
                       ((n_v - p_v) * date_diff('hour', p_hr, hr))
                       - (((((n_v - p_v) * date_diff('hour', p_hr, hr))
                            % date_diff('hour', p_hr, n_hr))
                           + date_diff('hour', p_hr, n_hr))
                          % date_diff('hour', p_hr, n_hr))
                   ) // date_diff('hour', p_hr, n_hr)
               END AS vi
        FROM c
    )
    SELECT user_id, hr,
           {sql_display_2dp('vi')} AS v_interp,
           v IS NULL AS is_gap
    FROM i
    """,
)
def e_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with LINEAR interpolation — the sibling
    of e_gap_fill_forward's carry fill for metrics where a silent hour
    should ramp between the surrounding observations (sensor readings,
    balance curves) instead of holding flat. Every user gets a complete
    hourly grid between their first and last observed hour; missing
    hours get v_prev + (v_next - v_prev) * elapsed/gap, observed hours
    pass through unchanged (is_gap marks interpolated rows).

    EXACT arithmetic end-to-end: hourly sums live in integer e4
    ten-thousandths, the elapsed/gap fraction is a ratio of exact
    whole-hour counts, and the interpolated value is computed with the
    repo's floor-division identity (`(x - pmod(x, d)) div d` — exactly
    divisible, so truncation == floor on BOTH engines, any sign). No
    IEEE op anywhere until the final display division, so the oracle
    hash-matches bit-for-bit with zero float-boundary risk.

    Scale shape mirrors e_gap_fill_forward: one hourly pre-aggregation
    (user-keyed shuffle), a per-user span aggregate, a map-side
    `sequence()` explode for the grid, a (user, hour)-keyed left join
    back, then the forward AND backward non-null carries — both through
    the celebrity-immune chunked helper (the backward pass orders by a
    negated-epoch timestamp, turning "first non-null after" into the
    same last-non-null primitive). Grid rows are span-bounded, not
    corpus-bounded. Interior-gap invariant: the grid starts and ends at
    OBSERVED hours, so every gap row has both neighbors — the interp
    branch never sees a NULL endpoint and gap > 0 strictly.
    """
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 40)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(e4(F.col("value"))).cast("long").alias("v"))
    spans = hourly.groupBy("user_id").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "hr"
        ),
    )
    # each chunked-carry pass forks its input into a within-chunk
    # window and a chunk-last aggregate, so without materialization
    # the grid explode + left join would replay up to 4x through the
    # two stacked passes (the d_triangle_count lineage discipline)
    joined = grid.join(hourly, ["user_id", "hr"], "left").localCheckpoint()
    fwd = with_chunked_last_nonnull(
        joined,
        "user_id",
        "hr",
        [],
        {
            "p_hr": F.when(F.col("v").isNotNull(), F.col("hr")),
            "p_v": F.col("v"),
        },
    )
    rev = fwd.withColumn(
        "rev_hr", F.timestamp_micros(-F.unix_micros(F.col("hr")))
    ).localCheckpoint()
    bwd = with_chunked_last_nonnull(
        rev,
        "user_id",
        "rev_hr",
        [],
        {
            "n_hr": F.when(F.col("v").isNotNull(), F.col("hr")),
            "n_v": F.col("v"),
        },
    )
    interp = (
        bwd.withColumn("_ds", F.expr("timestampdiff(HOUR, p_hr, hr)"))
        .withColumn("_dt", F.expr("timestampdiff(HOUR, p_hr, n_hr)"))
        .withColumn("_num", (F.col("n_v") - F.col("p_v")) * F.col("_ds"))
        .withColumn(
            "vi",
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
                F.col("p_v") + F.expr("(_num - pmod(_num, _dt)) div _dt")
            ),
        )
    )
    return interp.select(
        "user_id",
        "hr",
        display_2dp(F.col("vi").cast("decimal(20,0)")).alias("v_interp"),
        F.col("v").isNull().alias("is_gap"),
    )


@register(
    "e_session_window_native",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL '45 minutes'
                    THEN 1 ELSE 0 END AS new_s,
               event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS sid
        FROM g
    )
    SELECT user_id,
           min(ts) AS s_start,
           max(ts) + INTERVAL '45 minutes' AS s_end,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_sum_e4_2dp("value")} AS v_sum
    FROM s GROUP BY user_id, sid
    """,
)
def e_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE batch `session_window` aggregation — gap-merged
    session windows as a first-class GROUP BY key, the same construct
    the streaming jobs use (i_session) applied to a bounded frame.
    Demonstration twin of e_sessionize_batch: THAT op is the
    production path (chunked island arithmetic, celebrity-immune);
    this one exercises the engine API a Spark user reaches for first,
    with its exact native semantics pinned cross-engine — probed
    before registering: a gap of EXACTLY 45 minutes between
    consecutive events MERGES (the break is strictly greater-than;
    the half-open [start, end) window only excludes events AT the end
    bound from re-using it as a start), and session end = last event
    + gap, not last event. The oracle spells those semantics with the
    classic lag/cumsum island formula under a (ts, event_id) total
    order — the tie-break cannot flip session assignment because
    equal timestamps have zero gap and always merge.

    Scale shape: one user-keyed shuffle; Spark expands each row with
    its provisional [ts, ts+gap) window map-side and merges
    overlapping windows inside the sort-based aggregation, so memory
    is bounded by a session's row count, not the user's. A celebrity
    user still sorts in one task (the documented window-demonstration
    trade — e_sessionize_batch is the engineered-out form).
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "45 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            sum_e4_2dp(F.col("value")).alias("v_sum"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
            "v_sum",
        )
    )
