"""Relational/stream-shaped operators over `events` and the TPC-H-ish
tables: sessionization, time-bucketed rollups, the span-reassembly
aggregation pattern (M7 restated over a SQL-checkable table), and a
broadcast-join revenue rollup.

Float discipline: value sums use the per-term-integer-quantum pattern
(CAST(ROUND(v * 1000) AS BIGINT) summed) so Spark's and DuckDB's
different aggregation orders cannot produce different hashes — integer
sums are exact in any order. Timestamps are formatted to strings so
both engines hash identical representations (session TZ is UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_spark.functions import QuerySpec, drain_stream, load

SESSION_GAP_S = 1800


def _pin_utc(spark: SparkSession) -> None:
    """Timestamp queries must hash identically under any harness session:
    `date_format`/`unix_timestamp` over naive parquet timestamps resolve the
    session TZ at analysis time, so pin UTC *before* building the plan (the
    repo's own session.py does this, but `queries()` runs on the driver's
    session, which may not).

    SIDE EFFECT (ADVICE r2): this permanently sets the shared session's
    spark.sql.session.timeZone — later timestamp queries in the same
    session inherit UTC. Restoring after collect is not possible here
    (the returned plan is lazy; the TZ must still be UTC at execution),
    so callers that care must save/restore around the collect, as
    tests/test_functions_oracle.py does."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_utc(spark)
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    new_s = F.when(
        F.lag(sec).over(w).isNull() | ((sec - F.lag(sec).over(w)) > SESSION_GAP_S),
        1,
    ).otherwise(0)
    per_event = ev.select(
        "user_id",
        new_s.alias("new_s"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
    )
    return per_event.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("new_s").cast("long").alias("n_sessions"),
        F.sum("value_milli").alias("value_millis"),
    )


SQL_SESSIONIZE = f"""
WITH x AS (
  -- floor(epoch(ts)): Spark's unix_timestamp() truncates to whole
  -- seconds; DuckDB's bare epoch() keeps microseconds, which would
  -- apply a DIFFERENT session-break rule to sub-second gap margins
  SELECT user_id,
         CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
                   OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s,
         CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(new_s) AS BIGINT) AS n_sessions,
       CAST(sum(value_milli) AS BIGINT) AS value_millis
FROM x GROUP BY user_id
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_utc(spark)
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            "user_id",
            F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
        )
        .groupBy("event_type", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("value_milli").alias("value_millis"),
        )
    )


SQL_ROLLUP = """
SELECT event_type,
       strftime(ts, '%Y-%m-%d %H') AS hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_millis
FROM events
GROUP BY 1, 2
"""


def q_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup in ONE pass: (event_type, day) detail
    rows plus per-event_type subtotals plus the grand total via
    ROLLUP grouping sets — the hypertable-style aggregate a dashboard
    reads without re-scanning per granularity. grouping_id
    disambiguates rolled-up NULLs from (hypothetical) NULL keys; sums
    are integer millis so every level hashes exactly."""
    _pin_utc(spark)
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
    )
    return ev.rollup("event_type", "day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("value_milli").alias("value_millis"),
        F.grouping_id().cast("long").alias("gid"),
    )


SQL_ROLLUP_SETS = """
SELECT event_type,
       strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_millis,
       CAST(GROUPING(event_type, strftime(ts, '%Y-%m-%d')) AS BIGINT) AS gid
FROM events
GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""


def q_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated run of the Structured Streaming windowed rollup
    (spark/streaming.stream_windowed_rollup): the events table streams
    through watermarked tumbling 1-hour windows in append mode with
    trigger(availableNow), and the sink is read back. Append mode only
    emits windows the final watermark (max ts - 30 min) has passed —
    the oracle applies exactly that cutoff, so the gate checks BOTH the
    window aggregation values and the emit-on-finalize semantics. Still-
    open windows at stream end are withheld by design; on a live stream
    they emit when the watermark passes them."""
    from ocr_spark.spark.streaming import stream_windowed_rollup

    _pin_utc(spark)

    def run(in_dir: str, out_dir: str, ckpt_dir: str) -> None:
        stream_windowed_rollup(
            spark, in_dir, out_dir, ckpt_dir, available_now=True
        ).awaitTermination()

    return drain_stream(spark, sf_dir, "events", run)


SQL_ROLLUP_STREAM = """
WITH m AS (
  SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events
), r AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS BIGINT) AS value_millis
  FROM events GROUP BY 1, 2, 3
)
SELECT r.window_start, r.window_end, r.event_type, r.n_events, r.value_millis
FROM r, m WHERE r.window_end <= m.wm
"""


def q_span_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's reassembly aggregation (groupBy -> array_sort of
    (order-key, payload) structs -> ordered sequence), restated over
    `events` so DuckDB can verify the exact operator semantics that
    ocr_spark.spark.pipeline.reassemble uses for spans."""
    ev = load(spark, sf_dir, "events")
    seq = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("event_id"),
                    F.col("event_type").alias("event_type"),
                )
            )
        ),
        lambda x: x["event_type"],
    )
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.array_join(seq, "|").alias("event_seq"),
    )


SQL_SPAN_REASSEMBLY = """
SELECT user_id, count(*) AS n_events,
       array_to_string(array_agg(event_type ORDER BY ts, event_id), '|') AS event_seq
FROM events
GROUP BY user_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): each `click` event picks the
    most recent `view` by the same user with view.ts <= click.ts — the
    operator Spark lacks natively (pandas merge_asof / QuestDB ASOF
    JOIN semantics; tie on equal ts broken toward the larger event_id).

    100 TB shape: NOT a per-click range probe. Both streams union and a
    SINGLE window pass per user carries the last-seen view forward
    (last(ignorenulls) over rows UNBOUNDED PRECEDING..CURRENT) — one
    hash shuffle on user_id, linear work, no candidate blow-up no
    matter how many views precede a click. The three carried view
    columns are non-null on exactly the same rows, so last() picks them
    from the same matched view. Output is integer-exact: microsecond
    lag (unix_micros == DuckDB epoch_us; the NTZ->TZ cast resolves in
    the pinned-UTC session) and value millis."""
    _pin_utc(spark)
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        us.alias("us"),
        "event_id",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("v_eid"),
        us.alias("v_us"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("v_milli"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        us.alias("us"),
        "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("v_eid"),
        F.lit(None).cast("long").alias("v_us"),
        F.lit(None).cast("long").alias("v_milli"),
    )
    # views sort before clicks at equal ts (kind 0 < 1) -> inclusive;
    # equal-ts views resolve to the max event_id (last in order)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        views.unionByName(clicks)
        .select(
            "user_id",
            "us",
            "event_id",
            "kind",
            F.last("v_eid", ignorenulls=True).over(w).alias("view_event_id"),
            F.last("v_us", ignorenulls=True).over(w).alias("m_us"),
            F.last("v_milli", ignorenulls=True).over(w).alias(
                "view_value_milli"
            ),
        )
    )
    return carried.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.col("us") - F.col("m_us")).alias("lag_us"),
        "view_value_milli",
    )


SQL_ASOF_JOIN = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS cus
  FROM events WHERE event_type = 'click'
), v AS (
  SELECT event_id, user_id, epoch_us(ts) AS vus,
         CAST(round(value * 1000, 0) AS BIGINT) AS vmilli
  FROM events WHERE event_type = 'view'
), j AS (
  SELECT c.event_id, c.user_id,
         v.event_id AS view_event_id,
         CAST(c.cus - v.vus AS BIGINT) AS lag_us,
         v.vmilli AS view_value_milli,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY v.vus DESC, v.event_id DESC) AS rk
  FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.vus <= c.cus
)
SELECT event_id, user_id, view_event_id, lag_us, view_value_milli
FROM j WHERE rk = 1
"""


RANGE_WIN_US = 600_000_000  # 10-minute incident window, microseconds


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: every `error` event opens a 10-minute
    incident window [ts, ts+10min); count the events (any type, the
    error itself included) falling inside each window.

    100 TB shape: a raw inequality join is a broadcast-nested-loop (or
    an O(n*m) per-key probe). Instead both sides key on fixed-width
    time buckets the size of the window: each interval overlaps at most
    2 buckets (exploded interval side), each event lands in exactly 1,
    so the join is an EQUI-join on bucket with a residual microsecond
    filter — shuffle-partitionable, linear, skew bounded by events per
    10 minutes. The window width is the bucket width by construction;
    wider intervals would explode to ceil(len/W)+1 keys."""
    _pin_utc(spark)
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    inc = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"), us.alias("ius")
    )
    w = F.lit(RANGE_WIN_US)
    inc_b = inc.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(F.col("ius") / w),
                    F.floor((F.col("ius") + w - 1) / w),
                )
            )
        ),
    )
    evs = ev.select(
        us.alias("eus"),
        "user_id",
        F.round(F.col("value") * 1000, 0).cast("long").alias("vmilli"),
        F.floor(us / w).alias("bucket"),
    )
    joined = inc_b.join(evs, "bucket").filter(
        (F.col("eus") >= F.col("ius")) & (F.col("eus") < F.col("ius") + w)
    )
    return joined.groupBy("incident_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("vmilli").alias("value_millis"),
    )


SQL_RANGE_JOIN = f"""
WITH inc AS (
  SELECT event_id AS incident_id, epoch_us(ts) AS ius
  FROM events WHERE event_type = 'error'
), ev AS (
  SELECT epoch_us(ts) AS eus, user_id,
         CAST(round(value * 1000, 0) AS BIGINT) AS vmilli
  FROM events
)
SELECT incident_id,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(vmilli) AS BIGINT) AS value_millis
FROM inc JOIN ev ON ev.eus >= inc.ius AND ev.eus < inc.ius + {RANGE_WIN_US}
GROUP BY 1
"""


FUNNEL_STAGES = ("view", "click", "purchase")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage ordered funnel per user: first `view`, first `click`
    strictly after that view, first `purchase` strictly after that
    click (the product-analytics sequence-match operator).

    100 TB shape: NOT per-stage self-joins over the event log (each one
    re-shuffles the fact table). A SINGLE window cascade on (user_id,
    ts) carries the funnel state: a RANGE frame ending at -1 exposes
    "earliest qualifying prior stage strictly before me by timestamp",
    so stage-2/3 qualification is a projection, and the final per-user
    aggregate reuses the window's hash partitioning — one Exchange for
    the whole funnel. Strictness ties on equal microseconds resolve
    identically in both engines (RANGE < current value == `us > t_k`)."""
    _pin_utc(spark)
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select("user_id", "event_type", us.alias("us"))
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    s1, s2, s3 = FUNNEL_STAGES
    view_us = F.when(F.col("event_type") == s1, F.col("us"))
    e = e.withColumn("t1_seen", F.min(view_us).over(wr))
    e = e.withColumn(
        "qc_us",
        F.when(
            (F.col("event_type") == s2) & F.col("t1_seen").isNotNull(),
            F.col("us"),
        ),
    )
    e = e.withColumn("t2_seen", F.min("qc_us").over(wr))
    e = e.withColumn(
        "qp_us",
        F.when(
            (F.col("event_type") == s3) & F.col("t2_seen").isNotNull(),
            F.col("us"),
        ),
    )
    agg = e.groupBy("user_id").agg(
        F.min(view_us).alias("first_view_us"),
        F.min("qc_us").alias("first_click_us"),
        F.min("qp_us").alias("first_purchase_us"),
    )
    stage = (
        F.when(F.col("first_purchase_us").isNotNull(), 3)
        .when(F.col("first_click_us").isNotNull(), 2)
        .when(F.col("first_view_us").isNotNull(), 1)
        .otherwise(0)
    )
    return agg.select(
        "user_id",
        "first_view_us",
        "first_click_us",
        "first_purchase_us",
        stage.cast("int").alias("stage"),
    )


# oracle: independent construction — per-stage min-after joins instead
# of the window cascade, so the gate checks the SEMANTICS, not a
# transliteration of the plan
SQL_FUNNEL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), s1 AS (
  SELECT user_id, min(us) AS t1 FROM e
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[1]}' AND us > t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[2]}' AND us > t2 GROUP BY 1
), u AS (
  SELECT DISTINCT user_id FROM e
)
SELECT u.user_id,
       t1 AS first_view_us, t2 AS first_click_us, t3 AS first_purchase_us,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage
FROM u
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
"""


# --------------------------------------------------------------------------
# deterministic HyperLogLog distinct sketch (Flajolet et al. 2007)
# --------------------------------------------------------------------------

# countDistinct is the operator that does NOT scale: at 10^12 rows the
# distinct shuffle carries every key. The sketch replaces it with m=256
# integer registers that partial-aggregate map-side (max per register),
# so the shuffle carries <= m rows per group regardless of input size.
# Engine-portability discipline: Spark's approx_count_distinct and
# DuckDB's approx sketches hash differently, so this is a from-scratch
# HLL both engines compute IDENTICALLY from shared constants — portable
# md5 60-bit hash (8 index bits + 52-bit rho window), integer-exact
# registers and indicator sum (2^(53-M) terms, max 256*2^53 < 2^63), a
# single literal/bigint division for the raw estimate, and the
# small-range linear-counting branch precomputed in Python as a literal
# lookup table so neither engine evaluates ln() at all.
HLL_REG_BITS = 8
HLL_M = 1 << HLL_REG_BITS  # 256 registers
HLL_W_BITS = 60 - HLL_REG_BITS  # rho window of the 60-bit md5 hash
_HLL_R = HLL_W_BITS + 1  # max rho; indicator term = 2^(R - M_j)
# alpha_m * m^2 * 2^R — the whole raw-estimate numerator as ONE Python
# float literal; the engines only divide it by the integer indicator
_HLL_NUM = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * float(1 << _HLL_R)
_HLL_LC_THRESHOLD = 2.5 * HLL_M
# linear-counting table: zeros -> round(m * ln(m / zeros), 3)
import math as _math  # noqa: E402

_HLL_LC = [
    round(HLL_M * _math.log(HLL_M / z), 3) for z in range(1, HLL_M)
]

# rho = R - bit_length(w): position of the highest set bit via an exact
# integer scan (log2() floors wrong within 1 ulp of exact powers; bin()
# string formats differ across engines) — identical lambda both sides
_RHO_SPARK = (
    f"({_HLL_R} - coalesce(array_max(filter(transform("
    f"sequence(1, {HLL_W_BITS}), "
    f"p -> CASE WHEN (shiftright(w, p - 1) & CAST(1 AS BIGINT)) = 1 "
    f"THEN p END), x -> x IS NOT NULL)), 0))"
)
_RHO_DUCK = (
    f"({_HLL_R} - coalesce(list_max(list_filter(list_transform("
    f"range(1, {HLL_W_BITS} + 1), "
    f"p -> CASE WHEN ((w >> (p - 1)) & 1) = 1 THEN p END), "
    f"x -> x IS NOT NULL)), 0))"
)


def q_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type, estimated by the deterministic
    HLL sketch next to the exact countDistinct it replaces (the exact
    column is the verification surface; at corpus scale only the
    sketch runs). Duplicates hash to the same register update, so the
    sketch aggregates the RAW event stream — no distinct shuffle."""
    ev = load(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    hashed = ev.select(
        "event_type",
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("reg"),
        F.shiftright(h, HLL_REG_BITS).alias("w"),
    )
    regs = (
        hashed.select("event_type", "reg", F.expr(_RHO_SPARK).alias("rho"))
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mreg"))
    )
    agg = regs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_R} - mreg)")
        ).alias("zsum"),
    )
    zeros = (F.lit(HLL_M) - F.col("n_present")).cast("long")
    z = zeros * F.lit(1 << _HLL_R).cast("long") + F.col("zsum")
    e_raw = F.lit(_HLL_NUM) / z.cast("double")
    lc = F.element_at(
        F.array(*[F.lit(v) for v in _HLL_LC]), zeros.cast("int")
    )
    est = F.when(
        (zeros > 0) & (e_raw <= F.lit(_HLL_LC_THRESHOLD)), lc
    ).otherwise(F.round(e_raw, 3))
    sketched = agg.select(
        "event_type",
        zeros.alias("n_zero_registers"),
        est.alias("hll_estimate"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return sketched.join(exact, "event_type").select(
        "event_type", "n_exact", "n_zero_registers", "hll_estimate"
    )


_HLL_LC_SQL = "[" + ", ".join(repr(v) for v in _HLL_LC) + "]"

SQL_DISTINCT_HLL = f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hh
  FROM events
), rw AS (
  SELECT event_type, hh & {HLL_M - 1} AS reg, hh >> {HLL_REG_BITS} AS w
  FROM h
), rho AS (
  SELECT event_type, reg, {_RHO_DUCK} AS rho FROM rw
), regs AS (
  SELECT event_type, reg, max(rho) AS mreg FROM rho GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         count(*) AS n_present,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_R} - mreg)) AS BIGINT) AS zsum
  FROM regs GROUP BY 1
), est AS (
  SELECT event_type,
         CAST({HLL_M} - n_present AS BIGINT) AS n_zero_registers,
         ({HLL_M} - n_present) * CAST({1 << _HLL_R} AS BIGINT) + zsum AS z
  FROM agg
)
SELECT e.event_type, x.n_exact, e.n_zero_registers,
       CASE WHEN e.n_zero_registers > 0
                 AND {_HLL_NUM!r} / CAST(e.z AS DOUBLE)
                     <= {_HLL_LC_THRESHOLD!r}
            THEN ({_HLL_LC_SQL})[e.n_zero_registers]
            ELSE round({_HLL_NUM!r} / CAST(e.z AS DOUBLE), 3) END
         AS hll_estimate
FROM est e
JOIN (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
) x USING (event_type)
"""


# --------------------------------------------------------------------------
# fixed-bin histogram quantiles (the sketch that replaces a global sort)
# --------------------------------------------------------------------------

# Exact percentiles of a 10^12-row column need a global sort (or an
# engine-specific t-digest whose merge order is nondeterministic across
# engines). The portable sketch: quantize values to integer millis, map
# each to a fixed-width bin, aggregate bin counts (map-side partial,
# shuffle bounded by the bin count — value-range/BIN, not row count),
# and read each percentile off the cumulative histogram. The exact
# discrete percentile is kept as the verification column, computed from
# per-DISTINCT-value counts (bounded by value cardinality, never a raw
# row sort) with the same construction in both engines: smallest value
# whose cumulative count reaches rank ceil(p * n). The only float ops
# are p * n (identical literals x identical bigint->double) and the
# final midpoint division — deterministic, no percentile_cont/disc
# library semantics on either side.
QSK_BIN_MILLIS = 1000  # bin width = 1.0 value unit
QSK_PS = (0.5, 0.95, 0.99)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    vm = F.round(F.col("value") * 1000, 0).cast("long")
    vals = ev.select(vm.alias("vm"))

    # ONE corpus-wide aggregation: per-distinct-value counts. n, the
    # bin histogram, and both cumulative walks all derive from this
    # bounded frame — the raw rows are scanned and shuffled exactly
    # once. (A production sketch that skips the exact column would bin
    # straight off the scan; the shapes are identical.)
    # materialize dv once: four consumers (n, bins, both cumulative
    # walks) would otherwise each re-run the corpus aggregation — the
    # same single-scan discipline as dedup_embedding's bucket frame
    # (production scale swap for persist/durable checkpoint)
    dv = (
        vals.groupBy("vm")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint()
    )
    n_df = dv.agg(F.sum("cnt").cast("long").alias("n"))
    bins = (
        dv.select(
            F.floor(F.col("vm") / QSK_BIN_MILLIS).alias("bin"), "cnt"
        )
        .groupBy("bin")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    wb = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bins_cum = bins.select("bin", F.sum("cnt").over(wb).alias("cum"))

    wv = Window.orderBy("vm").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dv_cum = dv.select("vm", F.sum("cnt").over(wv).alias("cum"))

    ps = spark.createDataFrame([(p,) for p in QSK_PS], "p double")
    ranks = ps.crossJoin(F.broadcast(n_df)).select(
        "p", "n", F.ceil(F.col("p") * F.col("n")).cast("long").alias("r")
    )
    est = (
        F.broadcast(ranks)
        .join(bins_cum, F.col("cum") >= F.col("r"))
        .groupBy("p", "n", "r")
        .agg(F.min("bin").alias("bin"))
        .select(
            "p",
            "n",
            "r",
            (
                (F.col("bin") * QSK_BIN_MILLIS + QSK_BIN_MILLIS // 2)
                / F.lit(1000.0)
            ).alias("est_value"),
        )
    )
    exact = (
        F.broadcast(ranks.select("p", "r"))
        .join(dv_cum, F.col("cum") >= F.col("r"))
        .groupBy("p")
        .agg(F.min("vm").alias("exact_value_milli"))
    )
    return est.join(exact, "p").select(
        "p", "n", "r", "est_value", "exact_value_milli"
    )


SQL_QUANTILE_SKETCH = f"""
WITH vals AS (
  SELECT CAST(round(value * 1000, 0) AS BIGINT) AS vm FROM events
), dv0 AS (
  SELECT vm, count(*) AS cnt FROM vals GROUP BY 1
), n AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dv0
), bins AS (
  SELECT CAST(floor(vm / {QSK_BIN_MILLIS}) AS BIGINT) AS bin,
         CAST(sum(cnt) AS BIGINT) AS cnt
  FROM dv0 GROUP BY 1
), bins_cum AS (
  SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM bins
), dv_cum AS (
  SELECT vm, CAST(sum(cnt) OVER (ORDER BY vm
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dv0
), ranks AS (
  -- CAST before the multiply: a DuckDB VALUES float literal is DECIMAL,
  -- whose exact p*n can ceil() differently from the double product at
  -- integer boundaries (0.95 as double is 0.9499999999999999556...)
  SELECT CAST(p AS DOUBLE) AS p, n.n,
         CAST(ceil(CAST(p AS DOUBLE) * n.n) AS BIGINT) AS r
  FROM (VALUES {", ".join(f"({p!r})" for p in QSK_PS)}) ps(p), n
), est AS (
  SELECT ranks.p, ranks.n, ranks.r,
         (min(bin) * {QSK_BIN_MILLIS} + {QSK_BIN_MILLIS // 2}) / 1000.0
           AS est_value
  FROM ranks JOIN bins_cum ON cum >= r
  GROUP BY 1, 2, 3
), exact AS (
  SELECT ranks.p, CAST(min(vm) AS BIGINT) AS exact_value_milli
  FROM ranks JOIN dv_cum ON cum >= r
  GROUP BY 1
)
SELECT est.p, est.n, est.r, est.est_value, exact.exact_value_milli
FROM est JOIN exact USING (p)
"""


# --------------------------------------------------------------------------
# SCD2 dimension upsert (MERGE INTO restated as pure joins)
# --------------------------------------------------------------------------

# The lakehouse write-side operator the rest of the suite assumes: an
# update batch applied to a slowly-changing dimension with full history
# (type-2: closed-out old versions + a current flag), restated engine-
# portably as joins a 100 TB fact pipeline can run anywhere: changed-or-
# new rows are detected by an equi-join on the key + column compare
# (never a row-by-row MERGE cursor), version rows derive map-side, and
# the only shuffle is the key join — co-partitioned with the dimension's
# natural layout. The update batch is derived deterministically from the
# dimension itself (every 7th key changes segment and balance, every
# 97th key is reborn as a brand-new key), so both engines construct
# batch, change-set, and history from the same constants with zero
# fixtures.
SCD2_UPDATE_MOD = 7
SCD2_INSERT_MOD = 97
SCD2_NEW_KEY_OFFSET = 1_000_000


def q_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias(
            "acctbal_cents"
        ),
    )
    # deterministic update batch: changed rows for every 7th key (but
    # every 21st key arrives UNCHANGED — a no-op the merge must drop),
    # plus new keys for every 97th
    upd = cust.filter(F.col("custkey") % SCD2_UPDATE_MOD == 0).select(
        "custkey",
        F.when(
            F.col("custkey") % (3 * SCD2_UPDATE_MOD) == 0, F.col("segment")
        )
        .otherwise(
            F.concat(
                F.lit("UPSERT-"), (F.col("custkey") % 3).cast("string")
            )
        )
        .alias("segment"),
        F.when(
            F.col("custkey") % (3 * SCD2_UPDATE_MOD) == 0,
            F.col("acctbal_cents"),
        )
        .otherwise(F.col("acctbal_cents") + 1000)
        .alias("acctbal_cents"),
    )
    ins = cust.filter(F.col("custkey") % SCD2_INSERT_MOD == 0).select(
        (F.col("custkey") + SCD2_NEW_KEY_OFFSET).alias("custkey"),
        F.lit("NEWSEG").alias("segment"),
        F.lit(0).cast("long").alias("acctbal_cents"),
    )
    batch = upd.unionByName(ins)

    # change detection: batch rows whose (segment, acctbal) differ from
    # the current dimension row, or whose key is absent from it
    joined = batch.alias("b").join(
        cust.alias("d"), F.col("b.custkey") == F.col("d.custkey"), "left"
    )
    changed = joined.filter(
        F.col("d.custkey").isNull()
        | (F.col("b.segment") != F.col("d.segment"))
        | (F.col("b.acctbal_cents") != F.col("d.acctbal_cents"))
    ).select("b.custkey", "b.segment", "b.acctbal_cents")

    # history: version 0 = the pre-merge dimension (current unless a
    # changed row supersedes it), version 1 = the applied changes
    closed_keys = changed.select("custkey")
    v0 = cust.alias("d0").join(
        closed_keys.alias("c"),
        F.col("d0.custkey") == F.col("c.custkey"),
        "left",
    ).select(
        "d0.custkey",
        "d0.segment",
        "d0.acctbal_cents",
        F.lit(0).cast("int").alias("version"),
        F.when(F.col("c.custkey").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_current"),
    )
    v1 = changed.select(
        "custkey",
        "segment",
        "acctbal_cents",
        F.lit(1).cast("int").alias("version"),
        F.lit(1).cast("int").alias("is_current"),
    )
    return v0.unionByName(v1)


SQL_SCD2_UPSERT = f"""
WITH dim AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
  FROM customer
), upd AS (
  SELECT custkey,
         CASE WHEN custkey % {3 * SCD2_UPDATE_MOD} = 0 THEN segment
              ELSE 'UPSERT-' || CAST(custkey % 3 AS VARCHAR) END AS segment,
         CASE WHEN custkey % {3 * SCD2_UPDATE_MOD} = 0 THEN acctbal_cents
              ELSE acctbal_cents + 1000 END AS acctbal_cents
  FROM dim WHERE custkey % {SCD2_UPDATE_MOD} = 0
), ins AS (
  SELECT custkey + {SCD2_NEW_KEY_OFFSET} AS custkey,
         'NEWSEG' AS segment, CAST(0 AS BIGINT) AS acctbal_cents
  FROM dim WHERE custkey % {SCD2_INSERT_MOD} = 0
), batch AS (
  SELECT * FROM upd UNION ALL SELECT * FROM ins
), changed AS (
  SELECT b.custkey, b.segment, b.acctbal_cents
  FROM batch b LEFT JOIN dim d ON b.custkey = d.custkey
  WHERE d.custkey IS NULL
     OR b.segment != d.segment
     OR b.acctbal_cents != d.acctbal_cents
)
SELECT d.custkey, d.segment, d.acctbal_cents,
       CAST(0 AS INT) AS version,
       CAST(CASE WHEN c.custkey IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_current
FROM dim d LEFT JOIN changed c ON d.custkey = c.custkey
UNION ALL
SELECT custkey, segment, acctbal_cents,
       CAST(1 AS INT) AS version, CAST(1 AS INT) AS is_current
FROM changed
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicit broadcast of the small dimensions — the
    plan a 100 TB fact scan wants (no shuffle of lineitem for the dims)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.sum(rev_cents).alias("revenue_cents"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n.n_name AS nation,
       count(*) AS n_lineitems,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
"""


def q_top_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-aggregate: top-3 parts per brand by shipped quantity."""
    li = load(spark, sf_dir, "lineitem")
    part = F.broadcast(load(spark, sf_dir, "part"))
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("total_qty"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("total_qty").desc(), F.col("p_partkey")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            "total_qty",
            "rnk",
        )
    )


SQL_TOP_PARTS_BY_BRAND = """
WITH agg AS (
  SELECT p.p_brand, p.p_partkey,
         CAST(sum(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), ranked AS (
  SELECT p_brand, p_partkey, total_qty,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY total_qty DESC, p_partkey) AS rnk
  FROM agg
)
SELECT p_brand AS brand, p_partkey AS partkey, total_qty, rnk
FROM ranked WHERE rnk <= 3
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (the canonical scan+agg): per
    (returnflag, linestatus) over shipped-before-cutoff lineitems."""
    li = load(spark, sf_dir, "lineitem")
    cutoff = "1998-09-02"
    cents = lambda c: F.round(c * 100, 0).cast("long")  # noqa: E731
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(cents(disc_price)).alias("sum_disc_cents"),
            F.sum(cents(charge)).alias("sum_charge_cents"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag AS returnflag,
       l_linestatus AS linestatus,
       CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: top-10 unshipped orders of one
    market segment by pending revenue (this schema carries
    o_orderpriority instead of o_shippriority). Plan discipline: the
    segment-filtered customer dim broadcasts, both date filters push to
    the scans, revenue aggregates as integer cents on the single
    l_orderkey shuffle, and the top-10 compiles to
    TakeOrderedAndProject — no global sort of the order set."""
    _pin_utc(spark)  # date_format over naive timestamps (see q_rollup)
    cutoff = "1998-06-01"
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    cust = F.broadcast(
        load(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.sum(rev_cents).alias("revenue_cents"))
    )
    return agg.orderBy(
        F.desc("revenue_cents"), F.asc("orderkey")
    ).limit(10)


SQL_SHIPPING_PRIORITY = """
WITH agg AS (
  SELECT l.l_orderkey AS orderkey,
         strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
         o.o_orderpriority AS priority,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                       AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-06-01'
    AND l.l_shipdate > TIMESTAMP '1998-06-01'
  GROUP BY 1, 2, 3
)
SELECT orderkey, orderdate, priority, revenue_cents
FROM agg ORDER BY revenue_cents DESC, orderkey LIMIT 10
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: per priority, how many
    orders in a half-year window had at least one LATE lineitem (this
    schema has no commit/receipt dates, so "late" = shipped more than
    60 days after the order date — the same EXISTS shape over the same
    join key). Physical plan: a LEFT SEMI join on l_orderkey with the
    non-equi lateness predicate as the join condition — the lineitem
    side prunes to (l_orderkey, l_shipdate) and orders never duplicate,
    so the shuffle carries keys + one timestamp, no payload. At 100 TB
    the date window pushes to both parquet scans and the semi-join
    partial-aggregates map-side before the tiny priority rollup."""
    _pin_utc(spark)
    lo, hi = "1997-01-01", "1997-07-01"
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("late_order_count")
    )


SQL_ORDER_PRIORITY_CHECK = """
SELECT o.o_orderpriority AS priority,
       count(*) AS late_order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer distribution: how many customers
    placed exactly k non-urgent orders, INCLUDING the zero bucket —
    the left-outer-join-then-double-aggregate shape (this schema's
    stand-in for Q13's comment filter is the order-priority class).
    Plan: orders pre-aggregate to (custkey, cnt) BEFORE joining — the
    join input is one row per customer per side, so the outer join
    shuffles dimension-sized frames, never the raw order fact. The
    second aggregate (distribution over cnt) is a few-hundred-key
    hash-agg that partial-aggregates map-side. Both properties hold
    unchanged at 10^12 orders."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    joined = cust.join(
        per_cust, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
    )
    return (
        joined.select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT coalesce(p.cnt, 0) AS c_count, count(*) AS custdist
FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY 1
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue: total revenue from
    lineitems whose quantity is below 20% of that part's average, for
    one brand. The correlated scalar subquery is restated as a single
    window pass: broadcast the brand's part keys into the lineitem
    scan (partkey determines brand, so per-part averages are unchanged
    by the filter), then sum/count over a l_partkey window — ONE
    lineitem scan and ONE shuffle instead of the textbook self-join's
    two. Exactness: `qty < 0.2 * avg` is evaluated as
    `5 * qty_centi * cnt < sum_centi` — all-integer, so Spark's and
    DuckDB's different float summation orders cannot flip a boundary
    row. At 100 TB the broadcast brand filter prunes the scan to one
    part in ~25 and the window keys are part-sized (no skew: one part's
    lineitems fit a partition)."""
    brand = "Brand#13"
    parts = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == brand)
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").join(
        parts, F.col("l_partkey") == F.col("p_partkey")
    )
    qty_centi = F.round(F.col("l_quantity") * 100, 0).cast("long")
    price_cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    w = Window.partitionBy("l_partkey")
    small = (
        li.select(
            qty_centi.alias("qty_centi"),
            price_cents.alias("price_cents"),
            F.col("l_partkey"),
        )
        .withColumn("sum_centi", F.sum("qty_centi").over(w))
        .withColumn("cnt", F.count("*").over(w))
        .filter(F.lit(5) * F.col("qty_centi") * F.col("cnt") < F.col("sum_centi"))
    )
    return small.agg(
        F.lit(brand).alias("brand"),
        F.count("*").cast("long").alias("small_lineitems"),
        F.sum("price_cents").cast("long").alias("revenue_cents"),
    )


SQL_SMALL_QTY_REVENUE = """
WITH li AS (
  SELECT CAST(round(l.l_quantity * 100, 0) AS BIGINT) AS qty_centi,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(sum(CAST(round(l.l_quantity * 100, 0) AS BIGINT))
              OVER (PARTITION BY l.l_partkey) AS BIGINT) AS sum_centi,
         CAST(count(*) OVER (PARTITION BY l.l_partkey) AS BIGINT) AS cnt
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#13'
)
SELECT 'Brand#13' AS brand,
       count(*) AS small_lineitems,
       CAST(sum(price_cents) AS BIGINT) AS revenue_cents
FROM li WHERE 5 * qty_centi * cnt < sum_centi
"""


def q_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped sales opportunity: per nation, the customers
    whose balance beats the average POSITIVE balance but who placed no
    order since 2000-01-01 (every customer here has SOME order, so the
    dormancy cutoff restores Q22's "no orders" anti-join with real
    rows). Plan: the one-row global-average aggregate cross-broadcasts
    into the customer scan (no driver collect — the scalar stays in
    the plan), the anti-join shuffles only custkeys of post-cutoff
    orders (date filter pushed to the orders scan), and the final
    per-nation rollup is dimension-sized. Exactness: `bal > avg` is
    `bal_cents * cnt > sum_cents`, all-integer on both engines."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    avg_pos = F.broadcast(
        cust.filter(F.col("bal_cents") > 0).agg(
            F.sum("bal_cents").alias("sum_cents"),
            F.count("*").alias("cnt"),
        )
    )
    rich = cust.crossJoin(avg_pos).filter(
        F.col("bal_cents") * F.col("cnt") > F.col("sum_cents")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    dormant = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("bal_cents").cast("long").alias("balance_cents"),
    )


SQL_INACTIVE_HIGH_BALANCE = """
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer
), avg_pos AS (
  SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
         CAST(count(*) AS BIGINT) AS cnt
  FROM cust WHERE bal_cents > 0
)
SELECT c.c_nationkey AS nationkey,
       count(*) AS n_customers,
       CAST(sum(c.bal_cents) AS BIGINT) AS balance_cents
FROM cust c, avg_pos a
WHERE c.bal_cents * a.cnt > a.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: events.props is a JSON document
    column; pull `$.k` out as an integer and aggregate it per
    event_type — the schema-on-read path every log pipeline needs.
    `get_json_object` is a JVM-side Catalyst expression (no Python in
    the plan), the parse + projection happen in the scan stage, and
    the rollup partial-aggregates map-side over a handful of keys.
    Null discipline: rows whose props lack `$.k` (or carry non-numeric
    k) count into n_events but not n_with_k — both engines agree
    because both cast failed extracts to NULL."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
    )


SQL_JSON_EXTRACT = """
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max
FROM (SELECT event_type,
             TRY_CAST(props->>'$.k' AS BIGINT) AS k
      FROM events) x
GROUP BY 1
"""


def q_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total report: monthly order revenue per priority class
    with a cumulative sum over months — the classic ordered-window
    analytic. Plan: the fact table pre-aggregates to one row per
    (priority, month) BEFORE the window, so the sort the running total
    needs runs over a dimension-sized frame (priorities x months — a
    few hundred rows at any corpus size), never the raw orders; the
    pre-aggregate itself partial-aggregates map-side. Months are
    distinct within each priority partition, so ROWS UNBOUNDED
    PRECEDING..CURRENT equals the default RANGE frame on both engines;
    sums are integer cents — order-independent, engine-exact."""
    _pin_utc(spark)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
            "month"
        ),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    agg = o.groupBy("priority", "month").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "priority",
        "month",
        "n_orders",
        "revenue_cents",
        F.sum("n_orders").over(w).cast("long").alias("cum_orders"),
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    )


SQL_CUMULATIVE_REVENUE = """
WITH agg AS (
  SELECT o_orderpriority AS priority,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1, 2
)
SELECT priority, month, n_orders, revenue_cents,
       CAST(sum(n_orders) OVER (PARTITION BY priority ORDER BY month)
            AS BIGINT) AS cum_orders,
       CAST(sum(revenue_cents) OVER (PARTITION BY priority ORDER BY month)
            AS BIGINT) AS cum_revenue_cents
FROM agg
"""


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group: the 3 highest-revenue customers of every
    nation. Plan: orders pre-aggregate to one row per customer (the
    only corpus-sized shuffle), join customer for the nation key, then
    a rank-filter window per nation. Spark's WindowGroupLimit rewrite
    (rank <= k directly above the window) keeps only k rows per
    partition on BOTH the map side and the reduce side — the executor
    never buffers a whole nation's customers, so a nation with 10^9
    customers costs the same window state as one with 100. Ties break
    on custkey, so the pick is deterministic on both engines."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("revenue_cents"), F.asc("c_custkey")
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("rnk").cast("long").alias("rnk"),
            "revenue_cents",
        )
    )


SQL_TOP_CUSTOMERS_PER_NATION = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT c.c_nationkey, c.c_custkey, p.revenue_cents,
         row_number() OVER (PARTITION BY c.c_nationkey
                            ORDER BY p.revenue_cents DESC, c.c_custkey) AS rnk
  FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey AS custkey,
       CAST(rnk AS BIGINT) AS rnk, revenue_cents
FROM ranked WHERE rnk <= 3
"""


def q_distinct_users_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event_type, written as the
    two-stage aggregation a skewed corpus needs: stage 1 dedups
    (event_type, user_id) — partial-aggregated map-side and spread
    across the full key×user space — stage 2 counts the dedup'd rows
    per key. A direct countDistinct over a handful of event types
    funnels every distinct user of a type into ONE reduce task's
    aggregation state (Spark plans it as a two-pass expand but the
    final per-key state still concentrates); this shape keeps both
    shuffles uniform no matter how skewed the 5-key distribution is at
    10^12 events.

    Stage 2 counts NON-NULL user_ids (F.count(col), not count(*)) so
    the two-stage form agrees with COUNT(DISTINCT user_id) by
    construction: groupBy keeps a NULL-user group, which SQL's
    DISTINCT aggregate excludes — and an event_type whose users are
    ALL NULL still appears with n_users = 0, exactly as the oracle's
    GROUP BY does."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    stage1 = ev.groupBy("event_type", "user_id").agg(F.lit(1).alias("_one"))
    return stage1.groupBy("event_type").agg(
        F.count("user_id").cast("long").alias("n_users")
    )


SQL_DISTINCT_USERS_SKEWSAFE = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue per nation over
    one order year, counting only lineitems whose SUPPLIER sits in the
    same nation as the ordering customer — Q5's signature non-key
    equality (s_nationkey = c_nationkey) surviving intact.

    Plan discipline for 10^12 rows: the year filter pushes to the
    orders scan; lineitem joins orders on orderkey (the one fact-fact
    shuffle); customer and supplier join by key under shuffle_hash
    hints — BOTH are corpus-sized at the design point, broadcasting
    them is the test-scale trap q_salted_join_revenue documents — and
    only the 25-row nation dim broadcasts. The nation-equality filter
    drops cross-nation rows BEFORE the rollup, and the final aggregate
    is 25 rows with map-side partials."""
    _pin_utc(spark)
    lo, hi = "1997-01-01", "1998-01-01"
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", rev_cents.alias("cents")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            supp.hint("shuffle_hash"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").cast("long").alias("n_lineitems"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n.n_name AS nation,
       count(*) AS n_lineitems,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
  AND c.c_nationkey = s.s_nationkey
GROUP BY 1
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue change: one filtered scan, zero
    joins, one row out — the query whose entire cost at 10^12 rows is
    scan bandwidth, which makes it the canary for predicate pushdown:
    the date range, discount band, and quantity cap must ALL reach the
    parquet reader (plan-test asserts PushedFilters), and the aggregate
    partial-combines map-side to a single row. The discount band uses
    epsilon margins (0.035/0.075 around the 0.04-0.07 hundredths grid)
    so no float equality sits on a representation boundary in either
    engine."""
    _pin_utc(spark)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.035)
        & (F.col("l_discount") <= 0.075)
        & (F.col("l_quantity") < 24)
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100, 0
    ).cast("long")
    return li.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(rev_cents).cast("long").alias("revenue_cents"),
    )


SQL_FORECAST_REVENUE = """
SELECT count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.035 AND l_discount <= 0.075
  AND l_quantity < 24
"""


# Q19-style disjunctive brackets: (brand, size lo-hi, quantity lo-hi)
Q19_BRACKETS = (
    ("Brand#12", 1, 15, 1, 20),
    ("Brand#14", 1, 20, 10, 30),
    ("Brand#16", 1, 35, 20, 50),
)


def q_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped bracketed revenue: lineitem x part under an
    OR-of-ANDs predicate (three brand/size/quantity brackets), one row
    out. Plan discipline: the dim side is pre-filtered to
    bracket-ELIGIBLE parts (the union of the brand+size legs) before
    the broadcast, so the build side ships only candidate parts even
    when the parts table is large; the full disjunction then rides the
    join as its residual condition — the quantity legs can only be
    decided per matched pair. Generated from Q19_BRACKETS on both
    sides, so Spark and the oracle can never drift."""
    part_leg = None
    pair_leg = None
    for brand, slo, shi, qlo, qhi in Q19_BRACKETS:
        pl = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= slo)
            & (F.col("p_size") <= shi)
        )
        jl = pl & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi)
        part_leg = pl if part_leg is None else (part_leg | pl)
        pair_leg = jl if pair_leg is None else (pair_leg | jl)
    part = F.broadcast(
        load(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_size")
        .filter(part_leg)
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", rev_cents.alias("cents")
    )
    j = li.join(part, (F.col("l_partkey") == F.col("p_partkey")) & pair_leg)
    return j.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


def _q19_sql() -> str:
    legs = " OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi} "
        f"AND l.l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in Q19_BRACKETS
    )
    return f"""
SELECT count(*) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE {legs}
"""


SQL_BRACKETED_REVENUE = _q19_sql()


SALT_R = 4  # fact-side salt fan-out for the skewed large-large join


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large skew-join pattern: orders x customer on custkey with
    an explicit salt — the mitigation for a hot key that AQE's skew
    split cannot always reach (e.g. a single custkey holding 1% of
    10^12 orders). The dimension side replicates SALT_R ways (explode
    over a literal range — map-side, no shuffle of its own), the fact
    side tags a deterministic salt from its PRIMARY key (any hash
    works: the salt only spreads partitions, the join key still decides
    matches), and the join runs on (custkey, salt) — the hot key's rows
    now land in SALT_R different reducers. The salt never reaches the
    result, so the oracle is the PLAIN join: equality with it proves
    salting is a pure partitioning rewrite. Downstream, the per-nation
    rollup partial-aggregates map-side."""
    cust_rep = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_R)])))
    )
    fact = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.pmod(F.hash("o_orderkey"), F.lit(SALT_R)).alias("salt"),
    )
    # the hint encodes the design point: at 10^12 rows the customer
    # dimension does NOT fit a broadcast, so the salt must reach a real
    # shuffle (at test scale Spark would otherwise broadcast the tiny
    # fixture dim and the rewrite would demonstrate nothing)
    joined = fact.join(
        cust_rep.hint("shuffle_hash"),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (fact["salt"] == cust_rep["salt"]),
    )
    return joined.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


SQL_SALTED_JOIN_REVENUE = """
SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1
"""


QUERIES = {
    "events_sessionize": QuerySpec(q_sessionize, SQL_SESSIONIZE),
    "tpch_q1_pricing_summary": QuerySpec(q_pricing_summary, SQL_PRICING_SUMMARY),
    "events_rollup": QuerySpec(q_rollup, SQL_ROLLUP),
    "events_rollup_stream": QuerySpec(q_rollup_stream, SQL_ROLLUP_STREAM),
    "events_span_reassembly": QuerySpec(q_span_reassembly, SQL_SPAN_REASSEMBLY),
    "events_asof_join": QuerySpec(q_asof_join, SQL_ASOF_JOIN),
    "events_rollup_sets": QuerySpec(q_rollup_sets, SQL_ROLLUP_SETS),
    "events_range_join": QuerySpec(q_range_join, SQL_RANGE_JOIN),
    "events_funnel": QuerySpec(q_funnel, SQL_FUNNEL),
    "events_distinct_hll": QuerySpec(q_distinct_hll, SQL_DISTINCT_HLL),
    "events_quantile_sketch": QuerySpec(
        q_quantile_sketch, SQL_QUANTILE_SKETCH
    ),
    "dim_scd2_upsert": QuerySpec(q_scd2_upsert, SQL_SCD2_UPSERT),
    "tpch_revenue_by_nation": QuerySpec(q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "tpch_top_parts_by_brand": QuerySpec(
        q_top_parts_by_brand, SQL_TOP_PARTS_BY_BRAND
    ),
    "tpch_q3_shipping_priority": QuerySpec(
        q_shipping_priority, SQL_SHIPPING_PRIORITY
    ),
    "tpch_q4_order_priority": QuerySpec(
        q_order_priority_check, SQL_ORDER_PRIORITY_CHECK
    ),
    "tpch_q13_order_distribution": QuerySpec(
        q_customer_order_distribution, SQL_CUSTOMER_ORDER_DISTRIBUTION
    ),
    "tpch_q17_small_qty_revenue": QuerySpec(
        q_small_qty_revenue, SQL_SMALL_QTY_REVENUE
    ),
    "tpch_q22_inactive_high_balance": QuerySpec(
        q_inactive_high_balance, SQL_INACTIVE_HIGH_BALANCE
    ),
    "tpch_q5_local_supplier_volume": QuerySpec(
        q_local_supplier_volume, SQL_LOCAL_SUPPLIER_VOLUME
    ),
    "tpch_q6_forecast_revenue": QuerySpec(
        q_forecast_revenue, SQL_FORECAST_REVENUE
    ),
    "tpch_q19_bracketed_revenue": QuerySpec(
        q_bracketed_revenue, SQL_BRACKETED_REVENUE
    ),
    "events_json_extract": QuerySpec(q_json_extract, SQL_JSON_EXTRACT),
    "orders_cumulative_revenue": QuerySpec(
        q_cumulative_revenue, SQL_CUMULATIVE_REVENUE
    ),
    "top_customers_per_nation": QuerySpec(
        q_top_customers_per_nation, SQL_TOP_CUSTOMERS_PER_NATION
    ),
    "events_distinct_users_skewsafe": QuerySpec(
        q_distinct_users_skewsafe, SQL_DISTINCT_USERS_SKEWSAFE
    ),
    "orders_salted_join_revenue": QuerySpec(
        q_salted_join_revenue, SQL_SALTED_JOIN_REVENUE
    ),
}
