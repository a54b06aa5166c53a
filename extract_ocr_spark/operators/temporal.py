"""Temporal operators over the events table — the three custom join/rollup
shapes the brief names as "operators Spark lacks", each expressed as a
composition of built-in DataFrame ops (never a Python UDF, never a
nested-loop join):

- ``asof_join``: for every click, the most recent view by the same user at
  or before the click (trade/quote-style point-in-time join). Spark has no
  ASOF JOIN; the scalable form is ONE union + ONE user-partitioned window
  (last IGNORE NULLS over the preceding frame) — no per-row probe, no
  range-condition join that would degrade to BroadcastNestedLoop. The
  oracle is the same window in DuckDB, and a unit test cross-checks it
  against DuckDB's *native* ``ASOF LEFT JOIN`` for independent semantics.
- ``range_join_bins``: join events to OVERLAPPING value tiers. A naive
  range-predicate join is a nested-loop scan (O(rows × tiers) everywhere);
  the scale path bins both sides (bucket = floor(value/BIN_W), tiers
  explode to the buckets they overlap) so the planner runs an EQUI join on
  the bucket key with the range residual as a post-filter — the standard
  bin-and-prune range join. The oracle is DuckDB's plain range-predicate
  join (its IEJoin), so the binning is verified against independent
  semantics, not a twin of itself.
- ``hypertable_rollup``: continuous-aggregate-style multi-granularity
  rollup (per event_type at day AND day+hour in one pass) via GROUPING
  SETS — one scan, one expand, one aggregate. Money sums are exact BIGINT
  cents, so no float-accumulation-order reconciliation is needed.

Scale shape: all three shuffle exactly once on their natural key (user,
bucket, group key); the tier table is O(tiers × buckets-per-tier) rows and
broadcasts; nothing is driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUERIES = {}
ORACLES = {}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _value_cents():
    """The ONE exact money definition over events.value (the _rev_cbp
    anti-drift discipline): round to cents, BIGINT — shared by every
    events-money operator so the Spark and SQL twins can never diverge
    in rounding mode or scale."""
    return F.round(F.col("value") * 100).cast("long")


# the SQL twin of _value_cents, interpolated into every events-money oracle
VALUE_CENTS_SQL = "CAST(round(value*100) AS BIGINT)"


# -- As-of join (point-in-time) ------------------------------------------------

ASOF_LEFT = "click"   # probe side: each of these...
ASOF_RIGHT = "view"   # ...matches the latest preceding one of these


def asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id",
                                       "event_type")
    vc = ev.filter(F.col("event_type").isin(ASOF_LEFT, ASOF_RIGHT))
    # at equal ts the view sorts before the click (ASOF is <=); event_id
    # makes the order total so ties can never flip between engines
    is_right = F.col("event_type") == ASOF_RIGHT
    w = (Window.partitionBy("user_id")
         .orderBy("ts", F.when(is_right, 0).otherwise(1), "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    view_id = F.last(F.when(is_right, F.col("event_id")),
                     ignorenulls=True).over(w)
    view_ts = F.last(F.when(is_right, F.col("ts")),
                     ignorenulls=True).over(w)
    return (vc.select("event_id", "ts", "user_id", "event_type",
                      view_id.alias("view_id"), view_ts.alias("view_ts"))
            .filter(F.col("event_type") == ASOF_LEFT)
            .select(F.col("event_id").alias("click_id"), "user_id",
                    F.col("ts").alias("click_ts"), "view_id", "view_ts",
                    # timestampdiff works on TIMESTAMP_NTZ (the parquet
                    # type here); unix_micros would force a tz cast
                    F.expr("timestampdiff(MICROSECOND, view_ts, ts)")
                    .alias("gap_us"))
            .orderBy("click_id"))


ASOF_JOIN_SQL = f"""
WITH vc AS (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE event_type IN ('{ASOF_RIGHT}', '{ASOF_LEFT}')
), u AS (
  SELECT event_id, ts, user_id, event_type,
    last_value(CASE WHEN event_type = '{ASOF_RIGHT}' THEN event_id END
               IGNORE NULLS) OVER w AS view_id,
    last_value(CASE WHEN event_type = '{ASOF_RIGHT}' THEN ts END
               IGNORE NULLS) OVER w AS view_ts
  FROM vc
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts,
                        CASE WHEN event_type = '{ASOF_RIGHT}' THEN 0
                             ELSE 1 END,
                        event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS click_id, user_id, ts AS click_ts, view_id, view_ts,
       CASE WHEN view_ts IS NULL THEN NULL
            ELSE date_diff('microsecond', view_ts, ts) END AS gap_us
FROM u WHERE event_type = '{ASOF_LEFT}' ORDER BY click_id
"""

QUERIES["asof_join"] = asof_join_query
ORACLES["asof_join"] = ASOF_JOIN_SQL


# -- Range join via binning ----------------------------------------------------

N_TIERS = 12
TIER_STEP = 40    # tier i covers [i*40, i*40+60): neighbors overlap by 20,
TIER_WIDTH = 60   # so a value can land in 1-2 tiers (a REAL range join,
#                   not a disguised CASE bucketing)
BIN_W = 20        # bucket width; each tier spans 3 buckets


def _tiers():
    return [(i, i * TIER_STEP, i * TIER_STEP + TIER_WIDTH)
            for i in range(N_TIERS)]


def range_join_bins_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_id", "value")
    tiers = spark.createDataFrame(_tiers(), "tier_id int, lo int, hi int")
    # explode each tier to the integer buckets its [lo, hi) range overlaps
    tb = tiers.select(
        "tier_id", "lo", "hi",
        F.explode(F.sequence(
            (F.col("lo") / BIN_W).cast("long"),
            ((F.col("hi") - 1) / BIN_W).cast("long"))).alias("b"))
    eb = ev.select("event_id", "value",
                   F.floor(F.col("value") / BIN_W).alias("b"))
    return (eb.join(F.broadcast(tb), "b")
            .filter((F.col("value") >= F.col("lo"))
                    & (F.col("value") < F.col("hi")))
            .select("event_id", "tier_id")
            .orderBy("event_id", "tier_id"))


_TIER_VALUES = ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _tiers())

RANGE_JOIN_BINS_SQL = f"""
WITH tiers(tier_id, lo, hi) AS (VALUES {_TIER_VALUES})
SELECT e.event_id, t.tier_id
FROM events e JOIN tiers t
  ON e.value >= t.lo AND e.value < t.hi
ORDER BY e.event_id, t.tier_id
"""

QUERIES["range_join_bins"] = range_join_bins_query
ORACLES["range_join_bins"] = RANGE_JOIN_BINS_SQL


# -- Hypertable-style multi-granularity rollup ----------------------------------

def hypertable_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "user_id",
        _value_cents().alias("cents"))
    return (ev.groupingSets(
                [["event_type", "day"], ["event_type", "day", "hour"]],
                "event_type", "day", "hour")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum("cents").alias("cents"))
            .orderBy("event_type", "day", "hour"))


HYPERTABLE_ROLLUP_SQL = f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       date_trunc('hour', ts) AS hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum({VALUE_CENTS_SQL}) AS BIGINT) AS cents
FROM events
GROUP BY GROUPING SETS
  ((event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)),
   (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP),
    date_trunc('hour', ts)))
ORDER BY event_type, day, hour
"""

QUERIES["hypertable_rollup"] = hypertable_rollup_query
ORACLES["hypertable_rollup"] = HYPERTABLE_ROLLUP_SQL


# -- Windowed conversion funnel --------------------------------------------------

FUNNEL_WINDOW_US = 6 * 3600 * 1_000_000  # each stage must follow within 6h


def event_funnel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user windowed conversion funnel (view → click → purchase, each
    stage within FUNNEL_WINDOW_US of the previous; a later view restarts
    the attempt window). Custom *sequential* per-key logic — the kind of
    operator that tempts a Python UDF — expressed instead as an ORDERED
    FOLD over the user's event sequence (the char_entropy pattern):
    array_sort(collect_list(struct(ts, event_id, ...))) then F.aggregate
    with a (stage, boundary) struct accumulator, entirely JVM-side.

    Scale shape: ONE user-keyed aggregation; per-user sequences are
    bounded (events/user, not corpus size) and the fold is linear.

    The oracle is an INDEPENDENT window-based derivation, not a fold
    twin: the fold's stage is monotone (transitions only raise it), so
    stage>=2 iff some click follows its most-recent prior view within
    the window, and stage 3 iff a purchase follows the FIRST qualifying
    click (the fold pins the boundary there — later clicks can't move
    it) within the window. A list_reduce twin is also IMPOSSIBLE here:
    DuckDB 1.0.0's list_reduce mis-evaluates conditional-passthrough
    lambdas (CASE ... ELSE a) when several rows fold in one vectorized
    chunk — per-row results are correct, multi-row chunks contaminate
    accumulators across rows (verified against a Python fold over
    DuckDB's own list() output; both over- and under-shoots observed)."""
    code = (F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .when(F.col("event_type") == "purchase", 3)
            .otherwise(0))
    tus = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP'1970-01-01 00:00:00', ts)")
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.struct(F.col("ts"), F.col("event_id"), code.alias("c"),
                 tus.alias("t")).alias("e"))
    seq = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("evs"))

    w = F.lit(FUNNEL_WINDOW_US)

    def _mk(c, t):
        return F.struct(F.lit(c).alias("c"), t.alias("t"))

    def step(a, x):
        return (
            F.when((x["c"] == 1) & (a["c"] <= 1), _mk(1, x["t"]))
            .when((x["c"] == 2) & (a["c"] == 1)
                  & (x["t"] - a["t"] <= w), _mk(2, x["t"]))
            .when((x["c"] == 3) & (a["c"] == 2)
                  & (x["t"] - a["t"] <= w), _mk(3, x["t"]))
            .otherwise(a))

    init = F.struct(F.lit(0).alias("c"), F.lit(0).cast("long").alias("t"))
    return (seq.select(
                "user_id",
                F.aggregate("evs", init, step)["c"].alias("funnel_stage"))
            .orderBy("user_id"))


EVENT_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id AS eid,
         date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS t,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                         WHEN 'purchase' THEN 3 ELSE 0 END AS c
  FROM events
),
with_view AS (
  SELECT *,
    max(CASE WHEN c = 1 THEN t END) OVER (
      PARTITION BY user_id ORDER BY t, eid
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_t
  FROM ev
),
qclick AS (
  SELECT user_id, min(struct_pack(t := t, eid := eid)) AS fq
  FROM with_view
  WHERE c = 2 AND last_view_t IS NOT NULL
    AND t - last_view_t <= {FUNNEL_WINDOW_US}
  GROUP BY user_id
),
qpurchase AS (
  SELECT DISTINCT w.user_id
  FROM with_view w JOIN qclick q ON w.user_id = q.user_id
  WHERE w.c = 3 AND (w.t, w.eid) > (q.fq.t, q.fq.eid)
    AND w.t - q.fq.t <= {FUNNEL_WINDOW_US}
),
base AS (
  SELECT user_id, max(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS has_view
  FROM ev GROUP BY user_id
)
SELECT b.user_id,
  CASE WHEN p.user_id IS NOT NULL THEN 3
       WHEN q.user_id IS NOT NULL THEN 2
       WHEN b.has_view = 1 THEN 1 ELSE 0 END AS funnel_stage
FROM base b
LEFT JOIN qclick q ON b.user_id = q.user_id
LEFT JOIN qpurchase p ON b.user_id = p.user_id
ORDER BY b.user_id
"""

QUERIES["event_funnel"] = event_funnel_query
ORACLES["event_funnel"] = EVENT_FUNNEL_SQL


def funnel_transitions(events, state=(0, 0), window_us=FUNNEL_WINDOW_US):
    """Pure funnel fold over one user's IN-ORDER (code, t_us) events,
    continuing from ``state`` = (stage, boundary_us). Returns
    (transitions, new_state) where transitions lists every (stage, t_us)
    at which the stage strictly INCREASED (a later view restarting the
    attempt window updates the boundary without a transition). This is
    the single source of truth the streaming operator
    (``streaming.stream_funnel``) folds incrementally; the batch query
    above expresses the identical step as a JVM-side F.aggregate."""
    stage, bound = state
    out = []
    for c, t in events:
        if c == 1 and stage <= 1:
            if stage == 0:
                out.append((1, t))
            stage, bound = 1, t
        elif c == 2 and stage == 1 and t - bound <= window_us:
            stage, bound = 2, t
            out.append((2, t))
        elif c == 3 and stage == 2 and t - bound <= window_us:
            stage, bound = 3, t
            out.append((3, t))
    return out, (stage, bound)


# -- Cohort retention ---------------------------------------------------------

RETENTION_EVENT = "purchase"   # activity definition: converted that day
RETENTION_BP = 10_000          # retention reported in exact basis points


def cohort_retention_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention — the standard product-analytics rollup:
    users cohorted by first-event day, a cohort-day x day-offset grid of
    how many converted (RETENTION_EVENT) k days later, with retention in
    exact basis points (active * 10000 div cohort_size — all integers,
    parity by construction). Day granularity with purchase-activity is
    deliberate: on this corpus every user fires SOME event every week,
    so weekly any-event retention saturates at 100% and the curve
    carries no signal.

    Scale shape: one user-keyed aggregate for first-seen, one user-keyed
    join to tag events with their cohort (the inherent shuffle — both
    sides corpus-sized), a (cohort, day) distinct + count that partial-
    aggregates, and a broadcast-sized cohort-size table joined back.
    At web scale the cohort table is exactly the kind of skew-free key
    (bounded by days x users/day) this plan leaves to AQE."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "ts", "event_type")
    # fw feeds BOTH the cohort join and the cohort-size rollup; without
    # the persist Spark builds the corpus-wide first-seen aggregate twice
    # (the pushed-filter difference defeats ReusedExchange) — the exact
    # re-derivation pattern the curate_job rewrite fixed
    fw = _first_seen_df(ev).persist()
    try:
        out = cohort_retention_df(ev, fw).localCheckpoint(eager=True)
    finally:
        fw.unpersist()
    return out


def _first_seen_df(ev: DataFrame) -> DataFrame:
    return (ev.groupBy("user_id")
            .agg(F.min("ts").alias("first_ts"))
            .select("user_id", F.to_date("first_ts").alias("cohort_day")))


def cohort_retention_df(ev: DataFrame, fw: DataFrame) -> DataFrame:
    """Lazy cohort grid over events + a (user_id, cohort_day) first-seen
    table (split out so the plan is pin-testable before the query's
    persist + localCheckpoint hide it)."""
    act = (ev.filter(F.col("event_type") == RETENTION_EVENT)
           .join(fw, "user_id")
           .select("user_id", "cohort_day",
                   F.datediff(F.to_date("ts"), F.col("cohort_day"))
                   .alias("day_k"))
           .distinct())
    cs = fw.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    return (act.groupBy("cohort_day", "day_k")
            .agg(F.count("*").alias("active_users"))
            .join(cs, "cohort_day")
            .select("cohort_day", F.col("day_k").cast("int").alias("day_k"),
                    "active_users", "cohort_size",
                    F.expr(f"active_users * {RETENTION_BP} div cohort_size")
                    .alias("retention_bp"))
            .orderBy("cohort_day", "day_k"))


COHORT_RETENTION_SQL = f"""
WITH fw AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_k
  FROM events e JOIN fw f USING (user_id)
  WHERE e.event_type = '{RETENTION_EVENT}'
), cs AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
  FROM fw GROUP BY cohort_day
)
SELECT a.cohort_day, CAST(a.day_k AS INT) AS day_k,
       CAST(count(*) AS BIGINT) AS active_users, cs.cohort_size,
       CAST(count(*) AS BIGINT) * {RETENTION_BP} // cs.cohort_size
         AS retention_bp
FROM act a JOIN cs USING (cohort_day)
GROUP BY a.cohort_day, a.day_k, cs.cohort_size
ORDER BY cohort_day, day_k
"""

QUERIES["cohort_retention"] = cohort_retention_query
ORACLES["cohort_retention"] = COHORT_RETENTION_SQL


# -- Clickstream transition matrix -------------------------------------------

MARKOV_BP = 10_000



def _user_seq(spark: SparkSession, sf_dir: str):
    """The (events projection, user-ordered window) pair markov_transitions
    and dwell_times share — the (ts, event_id) total tie order is the
    asof_join contract and must be defined once."""
    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts",
                                       "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev, w


def markov_transitions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream — the behavioral-sequence statistic that feeds next-action
    models and anomaly scoring: counts and exact basis-point
    probabilities for every (from_type, to_type) adjacency, ordered by
    (ts, event_id) within user (the asof_join tie rule).

    Scale shape: ONE user-partitioned window (lead) — the inherent
    shuffle — then a two-phase (from, to) count whose partial aggregate
    absorbs the per-user stream length. The row total is a WINDOW over
    the (|types|^2)-row pair table, not a self-join: a join of pairs
    with its own aggregate recomputes the whole user-window chain per
    side (differing pushed projections defeat ReusedExchange — the
    cohort_retention/fw lesson), while the window costs one exchange of
    an already-tiny table. All integers."""
    ev, w = _user_seq(spark, sf_dir)
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    pairs = (seq.filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count("*").alias("n")))
    t = F.sum("n").over(Window.partitionBy("from_type"))
    return (pairs.withColumn("t", t)
            .select("from_type", "to_type", "n",
                    F.expr(f"n * {MARKOV_BP} div t").alias("prob_bp"))
            .orderBy("from_type", "to_type"))


MARKOV_TRANSITIONS_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM pairs GROUP BY from_type
)
SELECT p.from_type, p.to_type, p.n,
       p.n * {MARKOV_BP} // t.t AS prob_bp
FROM pairs p JOIN tot t USING (from_type)
ORDER BY from_type, to_type
"""

QUERIES["markov_transitions"] = markov_transitions_query
ORACLES["markov_transitions"] = MARKOV_TRANSITIONS_SQL


# -- Inter-event dwell times ---------------------------------------------------

def dwell_times_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type dwell: the exact-microsecond gap from each event to
    the same user's next event (any type), rolled up to count / total /
    truncating average — the time-on-page analytics primitive.
    Microseconds stay INTEGER end-to-end (events.ts is TIMESTAMP_NTZ:
    timestampdiff(MICROSECOND, ...) here == epoch_us subtraction in the
    oracle; unix_micros would reject the NTZ type).

    Scale shape: the same one-window-one-agg plan as markov_transitions;
    the rollup key (event_type) is low-cardinality but the partial
    aggregate reduces each task to |types| rows before the shuffle."""
    ev, w = _user_seq(spark, sf_dir)
    seq = ev.select("event_type", "ts",
                    F.lead("ts").over(w).alias("nts"))
    d = (seq.filter(F.col("nts").isNotNull())
         .select("event_type",
                 F.expr("timestampdiff(MICROSECOND, ts, nts)")
                 .alias("dwell_us")))
    return (d.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("dwell_us").alias("total_dwell_us"))
            .select("event_type", "n", "total_dwell_us",
                    F.expr("total_dwell_us div n").alias("avg_dwell_us"))
            .orderBy("event_type"))


DWELL_TIMES_SQL = """
WITH seq AS (
  SELECT user_id, event_type, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
  FROM events
), d AS (
  SELECT event_type, epoch_us(nts) - epoch_us(ts) AS dwell_us
  FROM seq WHERE nts IS NOT NULL
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
       CAST(sum(dwell_us) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS avg_dwell_us
FROM d GROUP BY event_type ORDER BY event_type
"""

QUERIES["dwell_times"] = dwell_times_query
ORACLES["dwell_times"] = DWELL_TIMES_SQL


# -- Churn / conversion label construction ------------------------------------

CHURN_LABEL_DAYS = 2          # label window: the corpus's last 2 days
CHURN_LABEL_EVENT = "purchase"  # converted iff this event occurs in it


def churn_labels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set construction for churn/propensity models: per-user
    feature counts (all five event types) over the feature window (up to
    the cut) and a churn label — no CHURN_LABEL_EVENT in the trailing
    CHURN_LABEL_DAYS-day label window. The cut derives from max(ts), so
    the split is reproducible from the data alone; the (2-day, purchase)
    definition is calibrated to actually split the corpus (9/15 and
    92/150 converters at the two test scales — an any-event window
    saturates and every label is identical).

    Scale shape: ONE user-keyed conditional aggregate — no join, no
    window, no second scan; the cut is a collected scalar (one tiny agg,
    the CMS-total precedent). The label-leakage rule is structural:
    feature counts condition on ts < cut, the label on ts >= cut."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_type")
    cut = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {CHURN_LABEL_DAYS} DAYS"))
        .alias("c")).collect()[0]["c"]
    # ts is TIMESTAMP_NTZ: the naive driver datetime must come back as an
    # NTZ literal via a STRING cast — F.lit(naive_datetime) builds an LTZ
    # literal in the PYTHON PROCESS's timezone, which shifts the cut by
    # the host's UTC offset on any non-UTC machine (found by running the
    # oracle test under TZ=America/New_York: feature counts off by the
    # events inside the offset band)
    cut_lit = F.lit(cut.strftime("%Y-%m-%d %H:%M:%S.%f")) \
        .cast("timestamp_ntz")
    before = F.col("ts") < cut_lit
    counts = [
        F.sum(F.when(before & (F.col("event_type") == t), 1).otherwise(0))
        .alias(f"n_{t}")
        for t in ("view", "click", "purchase", "signup", "error")
    ]
    after_label = F.sum(
        F.when((~before) & (F.col("event_type") == CHURN_LABEL_EVENT), 1)
        .otherwise(0))
    agg = ev.groupBy("user_id").agg(*counts, after_label.alias("n_label"))
    feat_total = sum(F.col(f"n_{t}") for t in
                     ("view", "click", "purchase", "signup", "error"))
    return (agg.filter(feat_total > 0)
            .select("user_id", "n_view", "n_click", "n_purchase",
                    "n_signup", "n_error",
                    (F.col("n_label") == 0).alias("churned"))
            .orderBy("user_id"))


CHURN_LABELS_SQL = f"""
WITH cut AS (
  SELECT max(ts) - INTERVAL {CHURN_LABEL_DAYS} DAY AS c FROM events
), agg AS (
  SELECT user_id,
    CAST(sum(CASE WHEN ts < cut.c AND event_type = 'view'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
    CAST(sum(CASE WHEN ts < cut.c AND event_type = 'click'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
    CAST(sum(CASE WHEN ts < cut.c AND event_type = 'purchase'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
    CAST(sum(CASE WHEN ts < cut.c AND event_type = 'signup'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
    CAST(sum(CASE WHEN ts < cut.c AND event_type = 'error'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
    CAST(sum(CASE WHEN ts >= cut.c
                  AND event_type = '{CHURN_LABEL_EVENT}'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_label
  FROM events, cut GROUP BY user_id
)
SELECT user_id, n_view, n_click, n_purchase, n_signup, n_error,
       n_label = 0 AS churned
FROM agg
WHERE n_view + n_click + n_purchase + n_signup + n_error > 0
ORDER BY user_id
"""

QUERIES["churn_labels"] = churn_labels_query
ORACLES["churn_labels"] = CHURN_LABELS_SQL


# -- Daily volume anomalies ----------------------------------------------------

ANOM_NUM = 50   # anomaly iff n * ANOM_NUM > trail_avg * ANOM_DEN, i.e.
ANOM_DEN = 51   # n > (51/50)x the trailing-7-day mean (>2% above) —
#                 calibrated so BOTH flag values
#                 occur at test scale (the synthetic rate is near-uniform,
#                 daily wobble ~±5% at sf0.001, ~±10% raw range at sf0.01)


def daily_anomalies_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly flags: each day vs its trailing-7-day
    mean, the threshold expressed as the exact integer cross-product
    n * trailing_days * ANOM_NUM > trailing_sum * (ANOM_NUM+1) — no
    float division anywhere. Days with no history (the first day) carry
    a NULL flag, explicitly.

    Scale shape: the corpus-sized work is the per-day count (one
    partial-agg shuffle keyed on day); the trailing window then runs
    over the DAYS table — bounded by the calendar, ~30 rows here — so
    the unpartitioned ordered window is a deliberate post-aggregation
    single-partition step over a provably tiny frame, not a corpus
    sort."""
    ev = _events(spark, sf_dir).select(F.to_date("ts").alias("day"))
    d = ev.groupBy("day").agg(F.count("*").alias("n"))
    w = Window.orderBy("day").rowsBetween(-7, -1)
    trail = F.sum("n").over(w)
    tdays = F.count("n").over(w)
    flag = F.when(
        tdays > 0,
        F.col("n") * tdays * ANOM_NUM > trail * ANOM_DEN)
    return (d.select("day", "n", trail.alias("t_raw"),
                     tdays.alias("trailing_days"), flag.alias("anomaly_high"))
            .select("day", "n",
                    F.coalesce("t_raw", F.lit(0)).alias("trailing_sum"),
                    "trailing_days", "anomaly_high")
            .orderBy("day"))


DAILY_ANOMALIES_SQL = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), w AS (
  SELECT day, n,
         CAST(sum(n) OVER (ORDER BY day
              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail,
         CAST(count(*) OVER (ORDER BY day
              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS tdays
  FROM d
)
SELECT day, n, coalesce(trail, 0) AS trailing_sum, tdays AS trailing_days,
       CASE WHEN tdays > 0
            THEN n * tdays * {ANOM_NUM} > trail * {ANOM_DEN}
            ELSE NULL END AS anomaly_high
FROM w ORDER BY day
"""

QUERIES["daily_anomalies"] = daily_anomalies_query
ORACLES["daily_anomalies"] = DAILY_ANOMALIES_SQL


# -- Trailing-hour activity features -------------------------------------------

TRAIL_US = 3_600_000_000   # 1 hour in microseconds


def trailing_hour_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-activity feature: how many events the same
    user fired in the hour strictly before this one — the rate-limit /
    burst-detection / ML-feature primitive. This is the repo's one
    RANGE-frame window (every other window is ROWS- or partition-framed):
    the frame is defined by the VALUE of the epoch-microsecond ordering
    key, so equal-timestamp events are excluded by the -1 bound on both
    engines and ties cannot flip the count.

    The ordering key is timestampdiff(MICROSECOND, epoch, ts) on the
    TIMESTAMP_NTZ column — timezone-free by construction (the
    churn_labels lesson) and identical to DuckDB's epoch_us.

    Scale shape: one user-keyed window, no join, no Python; the frame
    scan is O(events in the hour) per row — bounded by per-user rate."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    epoch = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    w = (Window.partitionBy("user_id").orderBy(epoch.alias("us"))
         .rangeBetween(-TRAIL_US, -1))
    return (ev.select("event_id",
                      F.count("*").over(w).alias("n_prev_hour"))
            .orderBy("event_id"))


TRAILING_HOUR_COUNTS_SQL = f"""
SELECT event_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN {TRAIL_US} PRECEDING AND 1 PRECEDING) AS BIGINT)
         AS n_prev_hour
FROM events ORDER BY event_id
"""

QUERIES["trailing_hour_counts"] = trailing_hour_counts_query
ORACLES["trailing_hour_counts"] = TRAILING_HOUR_COUNTS_SQL


# -- Clickstream path mining ---------------------------------------------------

PATH_TOP = 20


def path_trigrams_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigram paths across user streams — order-3
    sequence mining (behavior-model n-grams, funnel discovery), the
    depth-3 companion to markov_transitions' order-1 matrix. Two leads
    over the shared (ts, event_id) user window, one two-phase count,
    TakeOrdered top-20 with a full deterministic tie order.

    Scale shape: one user-keyed window shuffle (both leads ride the same
    window), partial-agg on the |types|^3-bounded key space, never a
    global sort."""
    ev, w = _user_seq(spark, sf_dir)
    seq = ev.select(F.col("event_type").alias("e1"),
                    F.lead("event_type", 1).over(w).alias("e2"),
                    F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.filter(F.col("e3").isNotNull())
            .groupBy("e1", "e2", "e3").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "e1", "e2", "e3")
            .limit(PATH_TOP))


PATH_TRIGRAMS_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n DESC, e1, e2, e3
LIMIT {PATH_TOP}
"""

QUERIES["path_trigrams"] = path_trigrams_query
ORACLES["path_trigrams"] = PATH_TRIGRAMS_SQL


# -- Per-user event-type pivot --------------------------------------------------

PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_event_pivot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user wide feature matrix via the DataFrame ``pivot`` API —
    the long->wide reshape every feature store runs. The pivot VALUES
    are passed explicitly (PIVOT_TYPES): without them Spark launches an
    extra distinct-values job and the output schema becomes
    data-dependent — both wrong at corpus scale and unreviewable as an
    oracle contract. Missing cells coalesce to 0, total rides the same
    aggregate.

    Scale shape (measured, not assumed): even with explicit values,
    pivot compiles to TWO aggregates — a (user, type) count shuffle,
    then a pivotfirst on user — so it costs one more exchange than the
    hand-written conditional-CASE form (churn_labels' shape, one
    shuffle). Pinned as such; the CASE form is the right choice in a
    hot path, pivot buys API ergonomics on the long->wide reshape."""
    ev = _events(spark, sf_dir).select("user_id", "event_type")
    out = (ev.groupBy("user_id")
           .pivot("event_type", list(PIVOT_TYPES))
           .count())
    total = None
    for t in PIVOT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
        total = F.col(t) if total is None else total + F.col(t)
    return (out.withColumn("total", total)
            .orderBy("user_id"))


USER_EVENT_PIVOT_SQL = f"""
SELECT user_id,
  {", ".join(
      f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
      f" AS {t}" for t in PIVOT_TYPES)},
  CAST(count(*) AS BIGINT) AS total
FROM events GROUP BY user_id ORDER BY user_id
"""

QUERIES["user_event_pivot"] = user_event_pivot_query
ORACLES["user_event_pivot"] = USER_EVENT_PIVOT_SQL


# -- A/B experiment lift --------------------------------------------------------

AB_CONV_N = 14   # converted iff >= this many purchase events (calibrated:
#                  splits 5/8-vs-3/7 and 26/75-vs-43/75 across the two
#                  test scales — a >=1 definition saturates at 100%)
AB_BP = 10_000


def ab_lift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: conversion rate per deterministic variant
    (user_id % 2 — the hash-split every A/B platform uses) and each
    variant's relative rate vs variant 0, all in exact integer basis
    points. Conversion = at least AB_CONV_N purchases (calibrated so the
    rates actually differ; a >=1 definition saturates at 100%).

    Scale shape: one user-keyed conditional aggregate, one 2-row variant
    rollup; the cross-variant comparison is a window over the 2-row
    table (never a join back to its own aggregate — the markov/cohort
    lesson)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_type")
    u = (ev.groupBy("user_id")
         .agg(F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("p"))
         .select((F.col("user_id") % 2).alias("variant"),
                 (F.col("p") >= AB_CONV_N).cast("int").alias("conv")))
    v = (u.groupBy("variant")
         .agg(F.count("*").alias("users"),
              F.sum("conv").alias("converters"))
         .withColumn("conv_bp", F.expr(f"converters * {AB_BP} div users")))
    base = F.max(F.when(F.col("variant") == 0, F.col("conv_bp"))) \
        .over(Window.partitionBy())
    return (v.withColumn("base_bp", base)
            .select("variant", "users", "converters", "conv_bp",
                    F.expr(f"conv_bp * {AB_BP} div base_bp")
                    .alias("rel_rate_bp"))
            .orderBy("variant"))


AB_LIFT_SQL = f"""
WITH u AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) >= {AB_CONV_N}
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
), v AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS users,
         CAST(sum(conv) AS BIGINT) AS converters
  FROM u GROUP BY variant
), r AS (
  SELECT variant, users, converters,
         converters * {AB_BP} // users AS conv_bp
  FROM v
)
SELECT variant, users, converters, conv_bp,
       conv_bp * {AB_BP}
         // (max(CASE WHEN variant = 0 THEN conv_bp END) OVER ())
         AS rel_rate_bp
FROM r ORDER BY variant
"""

QUERIES["ab_lift"] = ab_lift_query
ORACLES["ab_lift"] = AB_LIFT_SQL


# -- Last-touch marketing attribution ------------------------------------------

ATTR_TOUCH_TYPES = ("view", "click", "signup")
ATTR_WINDOW_US = 6 * 3600 * 1_000_000  # 6h lookback


def attribution_last_touch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent touch event (view/click/signup) within a 6-hour
    lookback, else 'direct'. The per-purchase "most recent prior touch"
    is the event_funnel window trick — max over a CASE-gated
    struct(ts, event_id, channel) on the UNBOUNDED-PRECEDING-to-1
    frame — so no self-join and no per-row probe ever happens; the
    recency test is integer epoch-microsecond arithmetic (ts ties break
    on event_id identically in both engines).

    Scale shape: ONE user-partitioned window over the events scan, then
    a ≤4-row aggregate. At 10^12 events this is the same
    shuffle-once-on-user shape as asof_join; the window frame is
    running-max, O(1) per row."""
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.max(
        F.when(F.col("event_type").isin(*ATTR_TOUCH_TYPES),
               F.struct(F.col("ts").alias("t"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("ch")))).over(w)
    seq = ev.select(
        "user_id", "ts", "event_id", "event_type",
        _value_cents().alias("value_cents"),
        touch.alias("touch"))
    age_us = F.expr("timestampdiff(MICROSECOND, touch.t, ts)")
    channel = (F.when(F.col("touch").isNull()
                      | (age_us > F.lit(ATTR_WINDOW_US)), F.lit("direct"))
               .otherwise(F.col("touch.ch")))
    return (seq.filter(F.col("event_type") == "purchase")
            .select(channel.alias("channel"), "value_cents")
            .groupBy("channel")
            .agg(F.count("*").alias("n_purchases"),
                 F.sum("value_cents").alias("revenue_cents"))
            .orderBy("channel"))


ATTRIBUTION_LAST_TOUCH_SQL = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         {VALUE_CENTS_SQL} AS value_cents,
         max(CASE WHEN event_type IN {ATTR_TOUCH_TYPES}
                  THEN struct_pack(t := ts, eid := event_id,
                                   ch := event_type) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT CASE WHEN touch IS NULL
              OR epoch_us(ts) - epoch_us(touch.t)
                 > CAST({ATTR_WINDOW_US} AS BIGINT)
            THEN 'direct' ELSE touch.ch END AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(value_cents) AS BIGINT) AS revenue_cents
FROM seq WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
"""

QUERIES["attribution_last_touch"] = attribution_last_touch_query
ORACLES["attribution_last_touch"] = ATTRIBUTION_LAST_TOUCH_SQL


# -- scd2_intervals: type-2 slowly-changing-dimension build -------------------

def scd2_intervals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing dimension from the per-user event
    stream: each user's event_type is the tracked attribute; a new
    version row opens whenever the value CHANGES (consecutive repeats
    collapse), valid_from = the change timestamp, valid_to = the next
    change (NULL on the open row), is_current flags it. This is the
    standard warehouse change-capture → SCD2 materialization, expressed
    as two window passes over one user-keyed shuffle.

    Determinism: ordering is (ts, event_id) — event_id is unique, so
    equal timestamps cannot flip versions between engines. Scale: both
    windows share the user_id partitioning (one exchange); no self-join
    against the change list, no driver state."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id",
                                       "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (ev.withColumn("prev", F.lag("event_type").over(w))
          .filter(F.col("prev").isNull()
                  | (F.col("prev") != F.col("event_type"))))
    return (ch.select(
                "user_id",
                F.row_number().over(w).alias("version"),
                "event_type",
                F.col("ts").alias("valid_from"),
                F.lead("ts").over(w).alias("valid_to"),
                F.lead("ts").over(w).isNull().alias("is_current"))
            .orderBy("user_id", "version"))


SCD2_INTERVALS_SQL = """
WITH ch AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id,
       CAST(row_number() OVER w AS INT) AS version,
       event_type,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM ch
WHERE prev IS NULL OR prev != event_type
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""

QUERIES["scd2_intervals"] = scd2_intervals_query
ORACLES["scd2_intervals"] = SCD2_INTERVALS_SQL


# -- Exponential moving average per user (ordered-fold sequential op) ---------

EMA_ALPHA = 0.25           # exact binary fraction — no decimal rounding
_EMA_BETA = 1.0 - EMA_ALPHA  # 0.75, also exact


def ema_value_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event values (the classic
    'needs a running state, reach for a Python UDF' shape), expressed
    as a JVM-side ORDERED FOLD seeded with the first value:
    ema_0 = v_0, ema_i = beta·ema_{i-1} + alpha·v_i over the (ts,
    event_id)-totalized sequence — the event_funnel pattern with a
    numeric accumulator.

    Scale shape: exactly one exchange on user_id (the groupBy), no
    join, no window, no Python; per-user state is one double.

    Float parity: the fold applies the SAME IEEE ops in the SAME order
    on both engines (F.aggregate over an array_sort'ed struct list /
    list_reduce over list(ORDER BY ts, event_id) — seeded folds on
    both sides: list_reduce without an init uses the first element,
    matching the Spark slice-from-2 form); alpha/beta are exact binary
    fractions but still reach DuckDB as CAST('...'::repr AS DOUBLE) so
    they can never transit DECIMAL (the kmeans lesson); the
    conditional-passthrough list_reduce bug class doesn't apply — the
    lambda applies the accumulator on EVERY step."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "value")
    lst = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    g = ev.groupBy("user_id").agg(lst.alias("l"))
    ema = F.aggregate(
        F.slice(F.col("l"), F.lit(2), F.size("l") - 1),
        F.element_at(F.col("l"), 1)["value"],
        lambda a, x: a * F.lit(_EMA_BETA) + x["value"] * F.lit(EMA_ALPHA))
    return (g.select("user_id",
                     F.size("l").cast("long").alias("n_events"),
                     F.round(ema, 6).alias("ema_value"))
            .orderBy("user_id"))


EMA_VALUE_SQL = f"""
WITH l AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
       round(list_reduce(vs,
             (a, x) -> a * CAST('{_EMA_BETA!r}' AS DOUBLE)
                       + x * CAST('{EMA_ALPHA!r}' AS DOUBLE)), 6)
         AS ema_value
FROM l ORDER BY user_id
"""

QUERIES["ema_value"] = ema_value_query
ORACLES["ema_value"] = EMA_VALUE_SQL


def ema_steps(values, state=None, alpha=EMA_ALPHA):
    """Pure seeded-EMA fold over one user's IN-ORDER values, continuing
    from ``state`` = (ema, n) or None. The single source of truth the
    streaming twin (``streaming.stream_ema``) folds incrementally; the
    batch query above expresses the identical step as a JVM-side
    F.aggregate — same IEEE multiply-adds (beta·ema + alpha·v) in the
    same order, so batch/stream values are bit-identical, not just
    close. Split-fold continuity holds by construction (the state IS
    the full accumulator) and is pinned by test anyway."""
    beta = 1.0 - alpha
    ema, n = state if state is not None else (0.0, 0)
    for v in values:
        ema = v if n == 0 else ema * beta + v * alpha
        n += 1
    return ema, n


def attribution_linear_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution, last-touch's sibling: every
    purchase's value is split EQUALLY across all touch events in the
    6-hour lookback (purchases with no touch credit 'direct' in full).

    Join shape: the two-bin range-join trick (range_join_bins) — touches
    explode into epoch-us bins b and b+1, purchases probe their own bin,
    so a touch meets exactly the purchases whose window can contain it
    and the equi-join carries (user_id, bin). No window-frame trick can
    express this one (every touch in the window gets credit, not just
    the latest), so the bounded range join IS the scale shape: shuffle
    keyed (user, 6h-bucket), never a per-user cross join.

    Float discipline: per-purchase credit is value_cents / n_touches —
    summed naively the addition order differs between engines, so
    credits aggregate exactly by (channel, n) as BIGINT cent sums first
    and each channel folds its ≤distinct-n terms in n order (the
    js_divergence bucket-sorted-fold discipline)."""
    ev = _events(spark, sf_dir)
    W = ATTR_WINDOW_US
    # timestampdiff-from-epoch works on TIMESTAMP_NTZ (the parquet type
    # here); unix_micros would force a tz cast
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP'1970-01-01 00:00:00', ts)")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("pid"),
                 us.alias("tp"), _value_cents().alias("cents"),
                 F.expr(
                     "timestampdiff(MICROSECOND,"
                     f" TIMESTAMP'1970-01-01 00:00:00', ts) div {W}")
                 .alias("bin")))
    t = (ev.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES))
         .select("user_id", F.col("event_type").alias("ch"),
                 F.col("event_id").alias("tid"), us.alias("tt")))
    t2 = t.withColumn(
        "bin", F.explode(F.array(F.expr(f"tt div {W}"),
                                 F.expr(f"tt div {W} + 1"))))  # b, b+1
    pairs = (p.join(t2, ["user_id", "bin"])
             .filter((F.col("tp") - F.col("tt")).between(0, W)
                     & ((F.col("tt") < F.col("tp"))
                        | ((F.col("tt") == F.col("tp"))
                           & (F.col("tid") < F.col("pid"))))))
    n = F.count("*").over(Window.partitionBy("user_id", "pid"))
    per = (pairs.withColumn("n", n)
           .groupBy("ch", "n")
           .agg(F.sum("cents").alias("s"), F.count("*").alias("c")))
    credited = (per.groupBy(F.col("ch").alias("channel"))
                .agg(F.sum("c").alias("touches"),
                     F.aggregate(
                         F.array_sort(F.collect_list(F.struct("n", "s"))),
                         F.lit(0.0),
                         lambda a, x: a + x["s"].cast("double") / x["n"])
                     .alias("credit")))
    direct = (p.join(pairs.select("pid").distinct(), "pid", "left_anti")
              .groupBy(F.lit("direct").alias("channel"))
              .agg(F.count("*").alias("touches"),
                   F.sum("cents").cast("double").alias("credit")))
    return (credited.unionAll(direct)
            .select("channel", "touches",
                    F.round(F.col("credit"), 4).alias("credit_cents"))
            .orderBy("channel"))


ATTRIBUTION_LINEAR_SQL = f"""
WITH p AS (
  SELECT user_id, event_id AS pid, epoch_us(ts) AS tp,
         {VALUE_CENTS_SQL} AS cents
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, event_type AS ch, event_id AS tid, epoch_us(ts) AS tt
  FROM events WHERE event_type IN {ATTR_TOUCH_TYPES}
), pairs AS (
  SELECT p.*, t.ch, t.tid FROM p JOIN t USING (user_id)
  WHERE tp - tt BETWEEN 0 AND {ATTR_WINDOW_US}
    AND (tt < tp OR (tt = tp AND tid < pid))
), nn AS (
  SELECT *, count(*) OVER (PARTITION BY user_id, pid) AS n FROM pairs
), g AS (
  SELECT ch, n, sum(cents) AS s, count(*) AS c FROM nn GROUP BY ch, n
), credited AS (
  SELECT ch AS channel, CAST(sum(c) AS BIGINT) AS touches,
         list_reduce(list_prepend(0.0, list(
             CAST(s AS DOUBLE) / n ORDER BY n)), (a, b) -> a + b) AS credit
  FROM g GROUP BY ch
), direct AS (
  SELECT 'direct' AS channel, CAST(count(*) AS BIGINT) AS touches,
         CAST(sum(cents) AS DOUBLE) AS credit
  FROM p ANTI JOIN (SELECT DISTINCT pid FROM pairs) q USING (pid)
  GROUP BY 1
)
SELECT channel, touches, round(credit, 4) AS credit_cents
FROM (SELECT * FROM credited UNION ALL SELECT * FROM direct)
ORDER BY channel
"""

QUERIES["attribution_linear"] = attribution_linear_query
ORACLES["attribution_linear"] = ATTRIBUTION_LINEAR_SQL


# -- Daily gap fill (calendar densification + forward fill) -------------------
#
# The time-series densification operator warehouse pipelines reach for a
# calendar-dimension join to get: per (user, day) purchase spend with the
# missing days generated and the last observation carried forward. The
# scalable form needs NO calendar table and NO join at all: one (user,
# day) aggregate, one user-partitioned window (lead), and a map-side
# explode of each activity day's run up to the day before the next one —
# the islands carry their own head values, so the forward fill is free
# (each generated row is built FROM the row it fills from). Fill extends
# only to the day before the user's next active day (the span end), so
# the result depends on per-user data alone — no corpus-global "today"
# that would make the query nondeterministic across runs.
#
# All outputs are DATE / BIGINT / BOOLEAN — hash-exact by construction.
# Scale: two exchanges total ((user, day) aggregate, then the user
# window); the explode multiplies rows by the gap length map-side, never
# through a shuffle. Reference analog: none (the reference has no
# time-series surface); this is the standard TimescaleDB
# time_bucket_gapfill / locf composition expressed as DataFrame ops.


def gap_fill_daily_df(ev: DataFrame) -> DataFrame:
    daily = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", F.to_date("ts").alias("active_day"))
             .agg(F.sum(_value_cents()).alias("spend_cents")))
    w = Window.partitionBy("user_id").orderBy("active_day")
    # days to generate from this island head: up to the day before the
    # next active day (0 extra for the user's last active day)
    n_fill = F.coalesce(
        F.datediff(F.date_sub(F.lead("active_day").over(w), 1),
                   F.col("active_day")),
        F.lit(0))
    span = daily.withColumn("n_fill", n_fill)
    out = span.select(
        "user_id", "active_day", "spend_cents",
        F.explode(F.sequence(F.lit(0), F.col("n_fill"))).alias("o"))
    return out.select(
        "user_id",
        F.date_add(F.col("active_day"), F.col("o")).alias("day"),
        (F.col("o") != 0).alias("is_gap"),
        F.when(F.col("o") == 0, F.col("spend_cents"))
         .otherwise(F.lit(0)).cast("long").alias("day_spend_cents"),
        F.col("spend_cents").alias("carry_spend_cents"),
        F.col("o").cast("long").alias("days_since_active"),
    )


def gap_fill_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_fill_daily_df(_events(spark, sf_dir)) \
        .orderBy("user_id", "day")


GAP_FILL_DAILY_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS active_day,
         CAST(sum({VALUE_CENTS_SQL}) AS BIGINT) AS spend_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), nx AS (
  SELECT *,
         lead(active_day) OVER (PARTITION BY user_id ORDER BY active_day)
           AS nxt
  FROM daily
), f AS (
  SELECT user_id, active_day, spend_cents, CAST(r.o AS INTEGER) AS o
  FROM nx, unnest(range(0,
        coalesce(datediff('day', active_day, nxt - 1), 0) + 1)) AS r(o)
)
SELECT user_id,
       active_day + o AS day,
       o <> 0 AS is_gap,
       CASE WHEN o = 0 THEN spend_cents ELSE CAST(0 AS BIGINT) END
         AS day_spend_cents,
       spend_cents AS carry_spend_cents,
       CAST(o AS BIGINT) AS days_since_active
FROM f
ORDER BY user_id, day
"""

QUERIES["gap_fill_daily"] = gap_fill_daily_query
ORACLES["gap_fill_daily"] = GAP_FILL_DAILY_SQL
