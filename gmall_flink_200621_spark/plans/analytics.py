"""Product-analytics query pack over `events`: cohort retention, SCD2
state history, exact z-score anomalies, value histograms, concurrent-
error range join, and exact heavy hitters. Every query is integer-exact
cross-engine (no rounded floats in any output column) so each has a
hash-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.frequency import DEFAULT_DENOM, heavy_hitters
from ..operators.rangejoin import interval_join_binned
from ..sources.loaders import load_table
from ..streaming.epochs import drain
from .extras import SESSION_GAP_S, sessionize

US_PER_DAY = 86_400_000_000


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-active epoch day;
    n_active = distinct users of cohort c active on day c+offset.

    Shape: ONE groupBy(user) collecting (min day, distinct-day array) —
    per-user state is bounded by the horizon in days — then an explode and
    a second small agg over (cohort, offset). No self-join of events to
    events (the naive formulation), no distinct over the full stream.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) DIV {US_PER_DAY}").alias("d")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("d").alias("cohort_day"),
        F.array_distinct(F.collect_list("d")).alias("days"),
    )
    return (
        per_user.select("cohort_day", F.explode("days").alias("d"))
        .groupBy("cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event stream: per
    user, collapse consecutive identical event_types into validity
    intervals [valid_from, valid_to) with a version ordinal — the
    change-data-capture compaction every warehouse dimension build runs.

    One shuffle: both window passes share partitioning (user) and
    ordering (t, event_id), and the filter between them preserves the
    hash partitioning, so the second pass is sort-only.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    changed = e.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return changed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("t").alias("valid_from_us"),
        F.lead("t").over(w).alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version"),
    )


def value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is a |z| > 3 outlier within their event_type —
    computed EXACTLY: cents as int64, sum-of-squares in decimal128, and
    the z test cleared of divisions:

        (n·v − S)² > 9·(n·SS − S²)   ⇔   ((v−mean)/stddev)² > 9

    so both engines compare the same integers (Spark decimal(38,0) ==
    DuckDB HUGEINT) — no float summation order, no sqrt. The group stats
    frame is 5 rows → broadcast join back onto the stream; one shuffle
    total (the stats agg)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
    )
    g = e.groupBy("event_type").agg(
        F.sum("v_cents").alias("s"),
        # per-row v² fits int64, but the SUM does not at 100 TB — accumulate decimal
        F.sum(F.expr("CAST(v_cents AS DECIMAL(38,0)) * v_cents")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        e.join(F.broadcast(g), "event_type")
        .filter(
            F.expr(
                "n >= 2 AND "
                "(CAST(n AS DECIMAL(38,0)) * v_cents - s) * (CAST(n AS DECIMAL(38,0)) * v_cents - s) "
                "> 9 * (CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"
            )
        )
        .select("event_id", "user_id", "event_type", "v_cents")
    )


HIST_BIN_CENTS = 5000  # 50-currency-unit buckets


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event value per type (integer cent bins —
    a plain combinable agg, partial-aggregated map-side)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents")
    )
    return (
        e.groupBy("event_type", F.expr(f"v_cents DIV {HIST_BIN_CENTS}").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v_cents").alias("sum_cents"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * HIST_BIN_CENTS).alias("bin_lo_cents"),
            "n",
            "sum_cents",
        )
    )


ERR_BIN_S = 3600  # bin width for the session×error range join


def session_error_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every user session, how many OTHER users' error events fell
    inside the session's [start, end] — a point-in-interval range join
    with no equality key, executed as the binned equi-join
    (`operators/rangejoin.py`) instead of a nested-loop. Sessions with
    zero overlapping external errors are not emitted (inner join)."""
    sess = sessionize(spark, sf_dir).select(
        "user_id", "session_id", "session_start_s", "session_end_s"
    )
    errs = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(F.col("ts").cast("long").alias("err_ts_s"), F.col("user_id").alias("err_user"))
    )
    j = interval_join_binned(errs, sess, "err_ts_s", "session_start_s", "session_end_s", ERR_BIN_S)
    return (
        j.filter(F.col("err_user") != F.col("user_id"))
        .groupBy("user_id", "session_id", "session_start_s")
        .agg(F.count(F.lit(1)).alias("n_ext_errors"))
    )


ROLLING_WINDOW_DAYS = 7


def active_users_rolling7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + exact trailing-7-day active users per epoch day (the WAU
    curve every product dashboard draws), computed at scale shape:

    distinct (day, user) first — ONE combinable agg that collapses the
    event stream to at most |days|·|users| rows — then each (day, user)
    contributes to the 7 target days it covers via `posexplode(sequence)`
    (7× the day-user frame, nowhere near the event count). Carrying the
    window OFFSET through lets one pipeline produce both curves: a user
    is active ON day td iff their minimum offset for td is 0, so
    dau = count(min_offset = 0) and wau7 = count(*) in the SAME final
    agg — single event scan, three combinable shuffles, no self-join, no
    dau⋈wau join, no giant window sort. Days with zero events emit
    nothing (dau > 0 filter keeps the domain = days present)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) DIV {US_PER_DAY}").alias("d")
    )
    day_users = e.groupBy("d", "user_id").agg(F.count(F.lit(1)).alias("_n"))
    contrib = day_users.select(
        "user_id",
        F.posexplode(F.sequence(F.col("d"), F.col("d") + ROLLING_WINDOW_DAYS - 1)).alias(
            "o", "td"
        ),
    )
    return (
        contrib.groupBy("td", "user_id")
        .agg(F.min("o").alias("min_o"))
        .groupBy("td")
        .agg(
            F.sum(F.when(F.col("min_o") == 0, 1).otherwise(0)).alias("dau"),
            F.count(F.lit(1)).alias("wau7"),
        )
        .filter(F.col("dau") > 0)
        .select(F.col("td").alias("day"), "dau", "wau7")
    )


def heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over user_id (≥ 1/400 of all events) via the
    Misra-Gries candidates + exact-recount plan (`operators/frequency.py`)."""
    return heavy_hitters(load_table(spark, sf_dir, "events"), "user_id", DEFAULT_DENOM)


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: for every user who purchased, the type
    and time of their FIRST event ever (the acquisition touchpoint) and
    their purchase count — min-by window over (ts, event_id), one shuffle
    on user_id, integer-exact output."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ts_s"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    firsts = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"), F.col("ts_s").alias("first_ts_s"))
    )
    buyers = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return buyers.join(firsts, "user_id").select(
        "user_id", "first_type", "first_ts_s", "n_purchases"
    )


ATTR_PPM = 1_000_000  # one conversion's credit, in parts-per-million
ATTR_END_PPM = 400_000  # U-shape: first and last touch each take 40%


def attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each converting
    user's journey = their non-purchase events strictly before their
    FIRST purchase, ordered by (ts, event_id). Credit per conversion is
    ATTR_PPM integer parts-per-million: single touch takes it all, two
    touches split 50/50, otherwise first/last take ATTR_END_PPM each and
    the middles share the rest by integer division with the remainder
    assigned to the EARLIEST middle — so every journey's credits sum to
    exactly ATTR_PPM and the per-channel totals are integer sums
    (partition-order independent, oracle hash-exact; a float credit
    split could not be).

    Shape: one window pass over each user's pre-conversion prefix (the
    join to first-purchase is a broadcast-sized frame only when users
    are few — at scale it hash-joins on user_id, same shuffle as the
    window), then a 5-row channel aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ts_s"), "event_id", "event_type"
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts_s", "event_id")).alias("fp"))
        .select("user_id", F.col("fp.ts_s").alias("fp_ts"), F.col("fp.event_id").alias("fp_eid"))
    )
    touches = (
        e.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .where(
            (F.col("ts_s") < F.col("fp_ts"))
            | ((F.col("ts_s") == F.col("fp_ts")) & (F.col("event_id") < F.col("fp_eid")))
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    wn = Window.partitionBy("user_id")
    mid_ppm = ATTR_PPM - 2 * ATTR_END_PPM
    ranked = touches.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(ATTR_PPM))
        .when((F.col("n") == 2), F.lit(ATTR_PPM // 2))
        .when(F.col("rn") == 1, F.lit(ATTR_END_PPM))
        .when(F.col("rn") == F.col("n"), F.lit(ATTR_END_PPM))
        .otherwise(
            F.expr(f"{mid_ppm} div (n - 2)")
            + F.when(F.col("rn") == 2, F.expr(f"{mid_ppm} % (n - 2)")).otherwise(F.lit(0))
        )
        .cast("long")
    )
    per_channel = (
        ranked.withColumn("credit", credit)
        .groupBy("event_type")
        .agg(
            F.sum("credit").alias("credit_ppm"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    total = per_channel.agg(F.sum("credit_ppm")).first()[0]
    return per_channel.select(
        F.col("event_type").alias("channel"),
        "credit_ppm",
        "n_users",
        (F.col("credit_ppm") / F.lit(total)).alias("credit_share"),
    )


def sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((segment), (priority), ()) — the third member of the
    cube/rollup family, same two-level shape as sales_cube: facts
    aggregate ONCE to the (segment, priority) grid, Expand runs over the
    tiny grid. Level labels derive from which key is NULL (dims are
    NULL-free in TPC-H), so no engine-specific grouping_id bit order
    leaks into the output."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    grid = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_t"),
        )
    )
    gs = grid.groupingSets(
        [["c_mktsegment"], ["o_orderpriority"], []], "c_mktsegment", "o_orderpriority"
    ).agg(F.sum("_n").alias("n_orders"), F.sum("_t").alias("revenue"))
    lvl = (
        F.when(F.col("c_mktsegment").isNotNull(), F.lit("by_segment"))
        .when(F.col("o_orderpriority").isNotNull(), F.lit("by_priority"))
        .otherwise(F.lit("total"))
    )
    return gs.select(
        lvl.alias("level"),
        F.coalesce("c_mktsegment", F.lit("*")).alias("segment"),
        F.coalesce("o_orderpriority", F.lit("*")).alias("priority"),
        "n_orders",
        # AGGREGATE in decimal, EMIT as double (the sales_cube pattern):
        # Decimal objects stringify with engine-specific trailing zeros
        # ('…494.50' vs '…494.5') and dodge the verifier's float rounding
        F.col("revenue").cast("double").alias("revenue"),
    )


def value_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality of event values: per (ISO weekday, event_type)
    row counts and value sums — the calendar-dimension groupBy whose
    cross-engine trap is weekday NUMBERING (Spark dayofweek is
    1=Sunday..7=Saturday; the oracle uses DuckDB's isodow and converts),
    pinned here by hashing on the converted ISO number."""
    e = load_table(spark, sf_dir, "events")
    # ISO weekday 1=Mon..7=Sun from Spark's 1=Sun..7=Sat dayofweek
    iso = (F.dayofweek("ts") + 5) % 7 + 1
    return (
        e.groupBy(iso.alias("iso_weekday"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("value_sum"),
        )
    )


def revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend: decimal-exact monthly totals, then
    ONE double division for the growth ratio (single IEEE op on exact
    inputs → identical in both engines at round(6))."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        ((F.col("rev") - prev).cast("double") / prev.cast("double")).alias("growth_pct"),
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintiles and a rule-based segment label, the classic warehouse
    marketing rollup. Deterministic cross-engine: quintiles are exact
    ntile(5) windows ordered by (metric, o_custkey) — the tiebreak makes
    bucket boundaries a pure function of the data (ntile without a total
    order is engine-dependent for ties); monetary sums in DECIMAL.

    Shape: one groupBy(custkey) over orders (map-side combinable), then
    three DISTRIBUTED exact ntiles over the CUSTOMER-count frame via
    operators/ranking.global_rank_ntile (range-partition + offsets —
    bit-identical to the window form, no single-partition sort; the
    only one-task stage left is the P-row offset frame). Each ntile is
    one range shuffle of the ~20-byte/customer aggregate — survives a
    1B-customer frame where the partition-less ntile(5) window would
    funnel it through one executor."""
    from ..operators.ranking import global_rank_ntile

    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max(F.expr(f"unix_micros(o_orderdate) DIV {US_PER_DAY}")).alias("recency_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    scored = per
    for metric, name in (("recency_day", "r"), ("frequency", "f"), ("mon", "m")):
        scored = (
            global_rank_ntile(scored, [F.col(metric), F.col("o_custkey")], 5)
            .withColumnRenamed("ntile", name)
            .drop("global_rank")
        )
    scored = scored.select(
        "o_custkey",
        "recency_day",
        "frequency",
        F.round(F.col("mon").cast("double"), 2).alias("monetary"),
        "r",
        "f",
        "m",
    )
    return scored.select(
        "o_custkey",
        "recency_day",
        "frequency",
        "monetary",
        "r",
        "f",
        "m",
        F.when((F.col("r") >= 4) & (F.col("f") >= 4), F.lit("champion"))
        .when(F.col("r") >= 4, F.lit("recent"))
        .when(F.col("f") >= 4, F.lit("loyal"))
        .when((F.col("r") <= 2) & (F.col("f") <= 2), F.lit("at_risk"))
        .otherwise(F.lit("regular"))
        .alias("segment"),
    )


PIT_SILVER = 3  # cumulative purchases that promote to silver
PIT_GOLD = 6  # ... and to gold


def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: every VIEW event joined to the
    dimension version valid AT ITS TIMESTAMP — the user's loyalty tier,
    an SCD2-style dimension derived from cumulative purchase count
    (bronze at the 1st purchase, silver at the {PIT_SILVER}th, gold at
    the {PIT_GOLD}th; 'none' before any purchase). The lookup every
    feature-store / training-set builder needs: joining facts to a
    versioned dimension WITHOUT leaking future versions.

    Shape: the tier-change stream is tiny (≤3 rows per user — only the
    promoting purchases survive the filter) and the join is the engine's
    single-shuffle union as-of join (operators/asof.py): both sides hash
    on user_id once, one running last(ignorenulls) window — no range
    self-join, no per-row probe. DuckDB's native ASOF JOIN certifies the
    semantics."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t"), "event_id"
    )
    wp = Window.partitionBy("user_id").orderBy("t", "event_id")
    p = e.filter(F.col("event_type") == "purchase").withColumn(
        "cum", F.row_number().over(wp)
    )
    changes = p.filter(
        (F.col("cum") == 1) | (F.col("cum") == PIT_SILVER) | (F.col("cum") == PIT_GOLD)
    ).select(
        "user_id",
        "t",
        "cum",
        F.when(F.col("cum") >= PIT_GOLD, F.lit("gold"))
        .when(F.col("cum") >= PIT_SILVER, F.lit("silver"))
        .otherwise(F.lit("bronze"))
        .alias("tier"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("t").alias("t_us")
    )
    joined = asof_join(
        views,
        changes,
        on=["user_id"],
        left_ts="t_us",
        right_ts="t",
        payload_cols=["tier"],
        tiebreak="cum",
    )
    return joined.select(
        "user_id",
        "view_id",
        "t_us",
        F.coalesce(F.col("tier"), F.lit("none")).alias("tier"),
    )


def skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: for each candidate partition key of
    the events stream (user_id, event_type), the distribution of per-key
    row counts summarized as a count-MAGNITUDE histogram (bucket =
    bit_length(count)−1, i.e. floor(log2) computed on integers — no
    float log whose rounding could differ across engines), plus each
    bucket's key count, row mass, worst key, and share of total rows.
    This is the audit run before choosing a groupBy/join key at scale:
    a bucket far above the median magnitude holding a large share IS
    the hot-key problem (→ salting / AQE skew join, the page_view_salted
    posture).

    Shape: one count per key (map-side combinable), then a ~dozens-row
    re-agg; the denominator for row_share is a 1-row agg over the bucket
    frame broadcast back — no driver-side count() action, no extra scan
    of events, no partition-less Window node."""
    e = load_table(spark, sf_dir, "events")

    def audit(key: str) -> DataFrame:
        per_key = e.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        buckets = (
            per_key.withColumn("bucket", (F.length(F.bin("cnt")) - 1).cast("int"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cnt").alias("n_rows"),
                F.max("cnt").alias("max_key_rows"),
            )
        )
        tot = buckets.agg(F.sum("n_rows").alias("_tot"))
        return buckets.crossJoin(F.broadcast(tot)).select(
            F.lit(key).alias("key_name"),
            "bucket",
            "n_keys",
            "n_rows",
            "max_key_rows",
            (F.col("n_rows") / F.col("_tot")).alias("row_share"),
        )

    return audit("user_id").unionByName(audit("event_type"))


def transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over event types: counts of consecutive
    same-session (gap ≤ SESSION_GAP_S) event pairs per user, with each
    cell's row-conditional probability p(to|from) — the product-analytics
    input for next-action prediction, anomaly flows, and funnel
    discovery. Consecutive-pair extraction is one lag window per user
    (identical pair semantics to `sessionize`'s boundaries, without
    materializing session ids); the matrix is ≤ |types|² rows, counts
    are integers, and the only division is exact-count / exact-count."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ts_s"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .withColumn("prev_ts", F.lag("ts_s").over(w))
        .where(
            F.col("from_type").isNotNull()
            & ((F.col("ts_s") - F.col("prev_ts")) <= SESSION_GAP_S)
        )
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") / F.sum("n").over(wf)).alias("p"),
    )


def ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-activity
    day (the retention_cohorts key), purchase revenue accumulated per
    day-offset — cum_rev_cents is an integer running sum (exact), and
    the per-user LTV divides it by the cohort's fixed user count. The
    curve every growth team plots; the shape is two small aggregates +
    one ordered window over the (cohort, offset) grid — events shuffle
    once on user_id, the grid is tiny."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) DIV {US_PER_DAY}").alias("d"),
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    sizes = cohort.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.sum("cents").alias("rev_cents"))
    )
    wc = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn("cum_rev_cents", F.sum("rev_cents").over(wc))
        .join(sizes, "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "rev_cents",
            "cum_rev_cents",
            "n_users",
            (F.col("cum_rev_cents") / F.lit(100.0) / F.col("n_users")).alias("ltv_per_user"),
        )
    )


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) curve: purchase revenue per user,
    users ranked by spend into deciles (over the total order spend desc,
    user asc — deterministic under ties), each decile's user count,
    revenue, and the CUMULATIVE share of total revenue — the "top 10% of
    users drive X% of revenue" read-out. Integer cents throughout; the
    two divisions are exact-int/exact-int.

    Deciling runs through `global_rank_ntile` (operators/ranking.py):
    range-partition + per-partition offsets, bit-identical to a
    partition-less ntile(10) window but with no single-task sort over the
    per-user aggregate — the ~1B-user posture. The remaining partition-
    less windows below read the 10-row per-decile frame only."""
    from ..operators.ranking import global_rank_ntile

    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"))
    )
    deciled = global_rank_ntile(
        spend, [F.desc("cents"), F.asc("user_id")], n=10
    ).withColumnRenamed("ntile", "decile")
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("cents").alias("decile_cents")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    return per.select(
        "decile",
        "n_users",
        "decile_cents",
        F.sum("decile_cents").over(wc).alias("cum_cents"),
        (F.sum("decile_cents").over(wc) / F.sum("decile_cents").over(wt)).alias("cum_share"),
    )


CDC_DELETE_TYPE = "error"  # changelog op mapping: 'error' rows are deletes


def cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins compaction: interpret the event stream as a
    changelog on user_id ('{CDC_DELETE_TYPE}' = DELETE, everything else
    = UPSERT of `value`), and emit the CURRENT table — each key's latest
    surviving row — the merge primitive every lakehouse ingest
    (Hudi/Delta MERGE, Kafka compacted topics) is built on.

    Latest = max (ts, event_id) per key (a total order — deterministic
    under ties); keys whose latest op is a delete are absent. Shape: one
    hash shuffle on user_id + a per-key window — no global sort; at
    100 TB this is the standard merge-on-read compaction shape. The
    streaming twin (`run_cdc_compaction_stream`) maintains the same
    table incrementally with hash-bucketed dynamic partition overwrite
    and TOMBSTONE retention (latest-wins is an idempotent semilattice —
    replays and redeliveries converge, pinned in tests)."""
    e = load_table(spark, sf_dir, "events")
    latest = (
        e.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
        )
        .withColumn("rn", F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))))
        .filter(F.col("rn") == 1)
    )
    return latest.filter(F.col("event_type") != CDC_DELETE_TYPE).select(
        "user_id",
        F.col("ts_us").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_op"),
        F.col("v_cents").alias("last_v_cents"),
    )


def spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase revenue — the single-number
    inequality read-out beside revenue_pareto's decile curve (a training-
    data budget skew / marketplace concentration metric). Rank formula
    over spend ascending (ties broken by user_id — total order):

        G = (2·Σ rank_i·x_i − (N+1)·Σ x_i) / (N·Σ x_i)

    Ranks come from `global_rank_ntile` — distributed, no single-task
    sort over the per-user aggregate. Σ rank·cents accumulates as
    DECIMAL(38,0) (exact, partition-order independent; int64 would
    overflow near ~10⁹ users × 10⁹ max-rank × cents — the
    value_anomalies decimal posture); the final division converts the
    exact integers to double identically in both engines."""
    from ..operators.ranking import global_rank_ntile

    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"))
    )
    ranked = global_rank_ntile(spend, [F.asc("cents"), F.asc("user_id")])
    return ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").alias("total_cents"),
        (
            # cast an OPERAND to decimal before multiplying: rank*cents in
            # int64 silently wraps (non-ANSI) past 2^63 — exactly the scale
            # the decimal posture exists for; the oracle multiplies
            # CAST(rnk AS DECIMAL(38,0)) * cents and sums decimal cents too.
            (
                2 * F.sum(F.col("global_rank").cast("decimal(38,0)") * F.col("cents"))
                - (F.count(F.lit(1)) + 1)
                * F.sum(F.col("cents").cast("decimal(38,0)"))
            ).cast("double")
            / (
                F.count(F.lit(1)) * F.sum(F.col("cents").cast("decimal(38,0)"))
            ).cast("double")
        ).alias("gini"),
    )


def join_blowup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality forecast for candidate keys, computed from the
    same per-key counts as skew_audit: a self-equi-join on key k produces
    exactly Σ cnt(k)² rows, and a key's worst contribution is max(cnt)².
    `blowup` = Σcnt²/n_rows is the average fan-out a join on that key
    multiplies a probe side by — the number to check BEFORE shipping a
    join at 100 TB (event_type as a join key shows blowup in the
    thousands here; user_id stays ~tens). Integer arithmetic end-to-end
    (sums of cnt² fit int64 up to ~3B-row hottest keys; the decimal
    upgrade is the value_anomalies posture)."""
    e = load_table(spark, sf_dir, "events")

    def audit(key: str) -> DataFrame:
        per_key = e.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        return per_key.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("self_join_rows"),
            F.max("cnt").alias("max_key_rows"),
        ).select(
            F.lit(key).alias("key_name"),
            "n_rows",
            "n_keys",
            "self_join_rows",
            F.col("max_key_rows").cast("long").alias("max_key_rows"),
            (F.col("max_key_rows") * F.col("max_key_rows")).cast("long").alias("max_key_pairs"),
            (F.col("self_join_rows") / F.col("n_rows")).alias("blowup"),
        )

    return audit("user_id").unionByName(audit("event_type"))


def column_profile(
    spark: SparkSession, sf_dir: str, ndv_mode: str = "exact"
) -> DataFrame:
    """ANALYZE-style table profile of `orders` — per column: row/null
    counts, distinct count, numeric min/max (doubles; timestamps as
    epoch seconds) and lexicographic min/max for varchar — the statistics
    a warehouse collects for CBO join-size estimates, data-quality
    monitoring, and partition-layout decisions.

    Shape (ndv_mode='exact', the certified registry path): ONE scan
    stacked long-form (explode of per-column structs — the unpivot
    shape), then two hash aggregations: per-(column, value) partial
    counts (map-side combinable; the only shuffle carries distinct
    (column, value) pairs, ~NDV rows, not table rows), then the
    per-column rollup where ndv = count of surviving groups — exact
    distinct WITHOUT a per-column Expand plan (Spark's multi-
    countDistinct rewrite replicates every input row once per distinct
    aggregate; the stack shape shuffles each value once).

    ndv_mode='approx' is the 100 TB swap (the uv_approx posture): same
    single-scan stacked shape, but ONE aggregation — the shuffle carries
    per-column HLL sketches + min/max partials (O(columns) rows, not
    O(NDV)); n_distinct becomes approx_count_distinct (default rsd 5%,
    error-band-tested vs the exact path); null/min/max stay exact."""
    if ndv_mode not in ("exact", "approx"):
        raise ValueError(f"column_profile: ndv_mode must be exact|approx, got {ndv_mode!r}")
    o = load_table(spark, sf_dir, "orders")
    dnull = F.lit(None).cast("double")
    snull = F.lit(None).cast("string")
    cols = [
        ("o_orderkey", F.col("o_orderkey").cast("double"), snull),
        ("o_custkey", F.col("o_custkey").cast("double"), snull),
        ("o_orderstatus", dnull, F.col("o_orderstatus")),
        ("o_totalprice", F.col("o_totalprice"), snull),
        ("o_orderdate", F.col("o_orderdate").cast("double"), snull),
        ("o_orderpriority", dnull, F.col("o_orderpriority")),
    ]
    stacked = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("column_name"), vn.alias("v_num"), vs.alias("v_str")
                    )
                    for n, vn, vs in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    present = F.col("v_num").isNotNull() | F.col("v_str").isNotNull()
    if ndv_mode == "approx":
        return stacked.groupBy("column_name").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(~present, F.lit(1))).alias("n_null"),
            F.approx_count_distinct(
                F.coalesce(F.col("v_str"), F.col("v_num").cast("string"))
            ).alias("n_distinct"),
            F.round(F.min("v_num"), 6).alias("min_num"),
            F.round(F.max("v_num"), 6).alias("max_num"),
            F.min("v_str").alias("min_str"),
            F.max("v_str").alias("max_str"),
        )
    per_val = stacked.groupBy("column_name", "v_num", "v_str").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_val.groupBy("column_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(~present, F.col("cnt")).otherwise(F.lit(0))).alias("n_null"),
        F.count(F.when(present, F.lit(1))).alias("n_distinct"),
        F.round(F.min("v_num"), 6).alias("min_num"),
        F.round(F.max("v_num"), 6).alias("max_num"),
        F.min("v_str").alias("min_str"),
        F.max("v_str").alias("max_str"),
    )


ZB_SHIFT = 12  # 22-bit zval >> 12 → 1024 Z-buckets in the audit query


def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order CLUSTERING KEY under the oracle gate: interleave
    (user bucket, minute-of-day) bits into the Z-value
    `operators/layout.write_zordered` clusters files by, then aggregate
    per Z-bucket the min/max extent of BOTH source dimensions. The
    output certifies cross-engine that the interleave arithmetic is
    exact AND exhibits the property the layout exists for: every
    Z-bucket bounds every interleaved dimension at once (a 12-bit
    Z-range confines each dim to ≤ 2⁶ of its 2¹¹ cells), which is
    precisely why per-file parquet min/max stats prune multi-dimensional
    predicates after `write_zordered`. The physical file-level proof
    (footer stats vs a 1-D sort strawman) is pinned in
    tests/test_layout.py; this query is the deterministic, driver-
    certifiable arithmetic core. Zero shuffles beyond one map-side-
    combined aggregation on the bucket key."""
    from ..operators.layout import ZORDER_BITS, zorder_value

    ev = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(2048))
    # integer DIV, not floor(double /): exact at minute boundaries in
    # both engines (the retention_cohorts day-bucket idiom)
    y = F.pmod(F.expr("unix_micros(ts) DIV 60000000"), F.lit(1440))
    t = ev.select(x.alias("x"), y.alias("y"))
    z = zorder_value([F.col("x"), F.col("y")], ZORDER_BITS)
    return (
        t.select(F.shiftrightunsigned(z, ZB_SHIFT).alias("zbucket"), "x", "y")
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hilbert CLUSTERING KEY under the oracle gate — the seam-free
    sibling of `zorder_layout_audit` over the same (user bucket,
    minute-of-day) dimensions: per Hilbert-bucket extents of both
    source dimensions, certifying the canonical xy2d bit-walk
    (operators/layout.hilbert_index — reflect/swap recurrence with
    two's-complement intermediates) cross-engine. Zero shuffles beyond
    the final map-side-combined aggregation."""
    from ..operators.layout import ZORDER_BITS, hilbert_index

    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        F.pmod(F.col("user_id"), F.lit(2048)).alias("x"),
        F.pmod(F.expr("unix_micros(ts) DIV 60000000"), F.lit(1440)).alias("y"),
    )
    h = hilbert_index(t, "x", "y", ZORDER_BITS)
    return (
        h.select(F.shiftrightunsigned(F.col("hd"), ZB_SHIFT).alias("hbucket"), "x", "y")
        .groupBy("hbucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def cdc_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED CDC current table, under the oracle gate:
    replay the events table through `run_cdc_compaction_stream` as an
    in-order chunked stream (3 micro-batches), then read the compacted
    state the stream maintained — same schema and oracle as the batch
    `cdc_compaction`, so the driver's hash check certifies the
    maintenance loop itself (touched-bucket MERGE, tombstones, replay
    convergence), not just the batch twin it mirrors."""
    from ..session import sf_namespace
    from ..streaming.ingest import cdc_current_view, run_cdc_compaction_stream, stage_event_chunks

    name = f"q_cdcview_{sf_namespace(sf_dir)}"
    stage = stage_event_chunks(sf_dir, n_chunks=3)
    q = run_cdc_compaction_stream(spark, stage, name=name)
    drain(spark, q, f"{name}_state")
    return cdc_current_view(spark, name)


def scd2_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED SCD2 versions table, under the oracle gate:
    replay events in order through `run_scd2_stream` (3 micro-batches,
    watermark-enforced), then read the maintained dimension — same
    schema and oracle as the batch `scd2_snapshot`."""
    from ..session import sf_namespace
    from ..streaming.ingest import run_scd2_stream, scd2_current_view, stage_event_chunks

    name = f"q_scd2view_{sf_namespace(sf_dir)}"
    stage = stage_event_chunks(sf_dir, n_chunks=3)
    q = run_scd2_stream(spark, stage, name=name)
    drain(spark, q, f"{name}_state")
    return scd2_current_view(spark, name)


ANALYTICS_QUERIES = {
    "retention_cohorts": retention_cohorts,
    "scd2_snapshot": scd2_snapshot,
    "value_anomalies": value_anomalies,
    "value_histogram": value_histogram,
    "session_error_overlap": session_error_overlap,
    "heavy_users": heavy_users,
    "active_users_rolling7": active_users_rolling7,
    "first_touch_attribution": first_touch_attribution,
    "sales_grouping_sets": sales_grouping_sets,
    "value_by_weekday": value_by_weekday,
    "revenue_seasonality": revenue_seasonality,
    "column_profile": column_profile,
    "rfm_segments": rfm_segments,
    "point_in_time_join": point_in_time_join,
    "skew_audit": skew_audit,
    "attribution_position": attribution_position,
    "join_blowup_audit": join_blowup_audit,
    "transition_matrix": transition_matrix,
    "ltv_cohorts": ltv_cohorts,
    "revenue_pareto": revenue_pareto,
    "spend_gini": spend_gini,
    "cdc_compaction": cdc_compaction,
    "cdc_stream_view": cdc_stream_view,
    "scd2_stream_view": scd2_stream_view,
    "zorder_layout_audit": zorder_layout_audit,
    "hilbert_layout_audit": hilbert_layout_audit,
}

# the sessionize lag+cumsum CTEs, shared by the session_error_overlap oracle
_SESSIONS_CTE = f"""
e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id FROM events
), marked AS (
  SELECT user_id, ts_s, event_id,
         CASE WHEN lag(ts_s) OVER w IS NULL THEN 1
              WHEN ts_s - lag(ts_s) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
), numbered AS (
  SELECT user_id, ts_s,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
), sess AS (
  SELECT user_id, session_id, min(ts_s) AS session_start_s, max(ts_s) AS session_end_s
  FROM numbered GROUP BY 1, 2
)"""

ANALYTICS_ORACLES: dict[str, str] = {
    "cdc_compaction": f"""
WITH latest AS (
  SELECT user_id,
         epoch_us(ts) AS ts_us,
         event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       ts_us AS last_ts_us,
       event_id AS last_event_id,
       event_type AS last_op,
       v_cents AS last_v_cents
FROM latest WHERE rn = 1 AND event_type <> '{CDC_DELETE_TYPE}'
""",
    "spend_gini": """
WITH spend AS (
  SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents ASC, user_id ASC) AS rnk FROM spend
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(2 * SUM(CAST(rnk AS DECIMAL(38,0)) * cents)
            - (count(*) + 1) * SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
         / CAST(count(*) * SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS gini
FROM ranked
""",
    "revenue_pareto": """
WITH spend AS (
  SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), deciled AS (
  SELECT *, ntile(10) OVER (ORDER BY cents DESC, user_id ASC) AS decile FROM spend
), per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM deciled GROUP BY 1
)
SELECT decile, n_users, decile_cents,
       CAST(SUM(decile_cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
       SUM(decile_cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / SUM(decile_cents) OVER () AS cum_share
FROM per
""",
    "transition_matrix": f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, event_type
  FROM events
), lagged AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER w AS from_type,
         ts_s - lag(ts_s) OVER w AS gap
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
), cm AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM lagged WHERE from_type IS NOT NULL AND gap <= {SESSION_GAP_S}
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       n / SUM(n) OVER (PARTITION BY from_type) AS p
FROM cm
""",
    "ltv_cohorts": f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS d, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), cohort AS (
  SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1
), sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY 1
), rev AS (
  SELECT c.cohort_day, e.d - c.cohort_day AS day_offset,
         CAST(SUM(e.cents) AS BIGINT) AS rev_cents
  FROM e JOIN cohort c USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), cum AS (
  SELECT *, CAST(SUM(rev_cents) OVER (PARTITION BY cohort_day ORDER BY day_offset
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
  FROM rev
)
SELECT cohort_day, day_offset, rev_cents, cum_rev_cents, s.n_users,
       cum_rev_cents / 100.0 / s.n_users AS ltv_per_user
FROM cum JOIN sizes s USING (cohort_day)
""",
    "join_blowup_audit": """
WITH ku AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
kt AS (SELECT event_type AS k, count(*) AS cnt FROM events GROUP BY 1),
au AS (
  SELECT 'user_id' AS key_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt * cnt) AS BIGINT) AS self_join_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_key_rows
  FROM ku
), at AS (
  SELECT 'event_type', CAST(SUM(cnt) AS BIGINT), CAST(count(*) AS BIGINT),
         CAST(SUM(cnt * cnt) AS BIGINT), CAST(MAX(cnt) AS BIGINT)
  FROM kt
)
SELECT key_name, n_rows, n_keys, self_join_rows, max_key_rows,
       max_key_rows * max_key_rows AS max_key_pairs,
       self_join_rows / n_rows AS blowup
FROM (SELECT * FROM au UNION ALL SELECT * FROM at)
""",
    "attribution_position": f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, event_type
  FROM events
), fpx AS (
  SELECT user_id, ts_s AS fp_ts, event_id AS fp_eid FROM (
    SELECT user_id, ts_s, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS rn
    FROM e WHERE event_type = 'purchase') WHERE rn = 1
), touches AS (
  SELECT e.user_id, e.ts_s, e.event_id, e.event_type
  FROM e JOIN fpx ON e.user_id = fpx.user_id
  WHERE e.event_type <> 'purchase'
    AND (e.ts_s < fpx.fp_ts OR (e.ts_s = fpx.fp_ts AND e.event_id < fpx.fp_eid))
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM touches
), credited AS (
  SELECT event_type, user_id,
         CAST(CASE WHEN n = 1 THEN {1_000_000}
              WHEN n = 2 THEN {500_000}
              WHEN rn = 1 OR rn = n THEN {400_000}
              ELSE {200_000} // (n - 2)
                   + CASE WHEN rn = 2 THEN {200_000} % (n - 2) ELSE 0 END
         END AS BIGINT) AS credit
  FROM ranked
), per_channel AS (
  SELECT event_type AS channel, CAST(SUM(credit) AS BIGINT) AS credit_ppm,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM credited GROUP BY 1
)
SELECT channel, credit_ppm, n_users,
       credit_ppm / (SELECT SUM(credit_ppm) FROM per_channel) AS credit_share
FROM per_channel
""",
    "skew_audit": """
WITH tot AS (SELECT count(*) AS total FROM events),
ku AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
kt AS (SELECT event_type AS k, count(*) AS cnt FROM events GROUP BY 1),
au AS (
  SELECT 'user_id' AS key_name, CAST(length(bin(cnt)) - 1 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_key_rows
  FROM ku GROUP BY 2
), at AS (
  SELECT 'event_type' AS key_name, CAST(length(bin(cnt)) - 1 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_key_rows
  FROM kt GROUP BY 2
)
SELECT key_name, bucket, n_keys, n_rows, max_key_rows,
       n_rows / (SELECT total FROM tot) AS row_share
FROM (SELECT * FROM au UNION ALL SELECT * FROM at)
""",
    "point_in_time_join": f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
), p AS (
  SELECT user_id, t, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS cum
  FROM e WHERE event_type = 'purchase'
), changes_raw AS (
  SELECT user_id, t, cum,
         CASE WHEN cum >= {PIT_GOLD} THEN 'gold'
              WHEN cum >= {PIT_SILVER} THEN 'silver'
              ELSE 'bronze' END AS tier
  FROM p WHERE cum = 1 OR cum = {PIT_SILVER} OR cum = {PIT_GOLD}
), changes AS (
  -- ASOF leaves equal-timestamp ties unspecified; dedupe to max cum the
  -- way the Spark side's tiebreak does
  SELECT user_id, t, tier FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, t ORDER BY cum DESC) AS rn
    FROM changes_raw) WHERE rn = 1
), v AS (
  SELECT user_id, event_id AS view_id, t AS t_us FROM e WHERE event_type = 'view'
)
SELECT v.user_id, v.view_id, v.t_us, COALESCE(c.tier, 'none') AS tier
FROM v ASOF LEFT JOIN changes c ON v.user_id = c.user_id AND v.t_us >= c.t
""",
    "retention_cohorts": f"""
WITH e AS (SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS d FROM events),
f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1),
a AS (SELECT DISTINCT e.user_id, f.cohort_day, e.d - f.cohort_day AS day_offset
      FROM e JOIN f USING (user_id))
SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_active
FROM a GROUP BY 1, 2
""",
    "scd2_snapshot": """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
), ch AS (
  SELECT user_id, event_type, t, event_id, lag(event_type) OVER w AS prev
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), f AS (
  SELECT user_id, event_type, t, event_id FROM ch
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type AS state, t AS valid_from_us,
       lead(t) OVER w2 AS valid_to_us,
       CAST(row_number() OVER w2 AS BIGINT) AS version
FROM f WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)
""",
    "value_anomalies": """
WITH e AS (
  SELECT event_id, user_id, event_type, CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
), g AS (
  SELECT event_type, sum(CAST(v_cents AS HUGEINT)) AS s,
         sum(CAST(v_cents AS HUGEINT) * v_cents) AS ss,
         CAST(count(*) AS HUGEINT) AS n
  FROM e GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type, e.v_cents
FROM e JOIN g USING (event_type)
WHERE n >= 2
  AND (n * e.v_cents - s) * (n * e.v_cents - s) > 9 * (n * ss - s * s)
""",
    "value_histogram": f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_cents FROM events
)
SELECT event_type, v_cents // {HIST_BIN_CENTS} AS bin,
       (v_cents // {HIST_BIN_CENTS}) * {HIST_BIN_CENTS} AS bin_lo_cents,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v_cents) AS BIGINT) AS sum_cents
FROM e GROUP BY 1, 2, 3
""",
    "session_error_overlap": f"""
WITH {_SESSIONS_CTE},
err AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS err_ts_s, user_id AS err_user
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.session_id, s.session_start_s,
       CAST(count(*) AS BIGINT) AS n_ext_errors
FROM sess s JOIN err
  ON err.err_ts_s BETWEEN s.session_start_s AND s.session_end_s
 AND err.err_user <> s.user_id
GROUP BY 1, 2, 3
""",
    "active_users_rolling7": f"""
WITH e AS (SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS d FROM events),
du AS (SELECT DISTINCT d, user_id FROM e),
dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
contrib AS (
  SELECT DISTINCT du.user_id, du.d + o.o AS td
  FROM du CROSS JOIN (SELECT unnest(generate_series(0, {ROLLING_WINDOW_DAYS - 1})) AS o) o
),
wau AS (SELECT td, CAST(count(*) AS BIGINT) AS wau7 FROM contrib GROUP BY 1)
SELECT dau.d AS day, dau.dau, wau.wau7
FROM dau JOIN wau ON wau.td = dau.d
""",
    "heavy_users": f"""
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events),
c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1)
SELECT c.user_id, c.n_rows,
       greatest(1, t.total // {DEFAULT_DENOM}) AS threshold
FROM c, t
WHERE c.n_rows >= greatest(1, t.total // {DEFAULT_DENOM})
""",
    "first_touch_attribution": """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, event_type FROM events
),
firsts AS (
  SELECT user_id, event_type AS first_type, ts_s AS first_ts_s
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS rn FROM e)
  WHERE rn = 1
),
buyers AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases FROM e
  WHERE event_type = 'purchase' GROUP BY 1
)
SELECT b.user_id, f.first_type, f.first_ts_s, b.n_purchases
FROM buyers b JOIN firsts f USING (user_id)
""",
    "sales_grouping_sets": """
WITH j AS (
  SELECT c.c_mktsegment, o.o_orderpriority, CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
gs AS (
  SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(CAST(sum(p) AS DECIMAL(28,2)) AS DOUBLE) AS revenue
  FROM j GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
)
SELECT CASE WHEN c_mktsegment IS NOT NULL THEN 'by_segment'
            WHEN o_orderpriority IS NOT NULL THEN 'by_priority'
            ELSE 'total' END AS level,
       coalesce(c_mktsegment, '*') AS segment,
       coalesce(o_orderpriority, '*') AS priority,
       n_orders, revenue
FROM gs
""",
    "value_by_weekday": """
SELECT CAST(isodow(ts) AS INT) AS iso_weekday, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_sum
FROM events GROUP BY 1, 2
""",
    "revenue_seasonality": """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate)::DATE AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT month,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round((rev - lag(rev) OVER (ORDER BY month))::DOUBLE
             / (lag(rev) OVER (ORDER BY month))::DOUBLE, 6) AS growth_pct
FROM monthly
""",
    "column_profile": """
WITH s AS (
  SELECT 'o_orderkey' AS column_name, o_orderkey::DOUBLE AS v_num, NULL::VARCHAR AS v_str FROM orders
  UNION ALL SELECT 'o_custkey', o_custkey::DOUBLE, NULL FROM orders
  UNION ALL SELECT 'o_orderstatus', NULL, o_orderstatus FROM orders
  UNION ALL SELECT 'o_totalprice', o_totalprice, NULL FROM orders
  UNION ALL SELECT 'o_orderdate', epoch(o_orderdate), NULL FROM orders
  UNION ALL SELECT 'o_orderpriority', NULL, o_orderpriority FROM orders
)
SELECT column_name,
       count(*) AS n_rows,
       count(*) FILTER (WHERE v_num IS NULL AND v_str IS NULL) AS n_null,
       count(DISTINCT v_num) + count(DISTINCT v_str) AS n_distinct,
       round(min(v_num), 6) AS min_num,
       round(max(v_num), 6) AS max_num,
       min(v_str) AS min_str,
       max(v_str) AS max_str
FROM s GROUP BY 1
""",
    "rfm_segments": f"""
WITH per AS (
  SELECT o_custkey,
         max(epoch_us(o_orderdate) // {US_PER_DAY}) AS recency_day,
         count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, recency_day, frequency,
         round(CAST(mon AS DOUBLE), 2) AS monetary,
         ntile(5) OVER (ORDER BY recency_day, o_custkey) AS r,
         ntile(5) OVER (ORDER BY frequency, o_custkey) AS f,
         ntile(5) OVER (ORDER BY mon, o_custkey) AS m
  FROM per
)
SELECT o_custkey, recency_day, frequency, monetary, r, f, m,
       CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
            WHEN r >= 4 THEN 'recent'
            WHEN f >= 4 THEN 'loyal'
            WHEN r <= 2 AND f <= 2 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM scored
""",
}

# The stream-maintained views are contract-equal to their batch twins,
# so they share the twin's oracle verbatim — the driver's hash check then
# certifies the MAINTENANCE loop (chunked replay → state table → read
# view) against the same ANSI-SQL ground truth.
ANALYTICS_ORACLES["cdc_stream_view"] = ANALYTICS_ORACLES["cdc_compaction"]
ANALYTICS_ORACLES["scd2_stream_view"] = ANALYTICS_ORACLES["scd2_snapshot"]


def _zval_sql(x: str, y: str, bits: int) -> str:
    """Unrolled bit-interleave — the same flat shift/mask sum
    operators/layout.zorder_value compiles on the Spark side, generated
    from the same bit width."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


def _zorder_audit_sql() -> str:
    from ..operators.layout import ZORDER_BITS

    return f"""
WITH t AS (
  SELECT user_id % 2048 AS x,
         ((epoch_us(ts) // 60000000) % 1440) AS y
  FROM events
)
SELECT (({_zval_sql("x", "y", ZORDER_BITS)}) >> {ZB_SHIFT}) AS zbucket,
       count(*) AS n_events,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM t GROUP BY 1
"""


ANALYTICS_ORACLES["zorder_layout_audit"] = _zorder_audit_sql()


def _hilbert_audit_sql() -> str:
    """Unrolled xy2d CTE chain — one level per bit, mirroring
    operators/layout.hilbert_index's chained projections; DuckDB's `&`
    on negative BIGINTs is two's-complement like Spark/Java, and xor()
    replaces `^` (power in DuckDB)."""
    from ..operators.layout import ZORDER_BITS

    b = ZORDER_BITS
    parts = [
        "t AS (SELECT user_id % 2048 AS x0,"
        " ((epoch_us(ts) // 60000000) % 1440) AS y0 FROM events)",
        f"lv{b} AS (SELECT x0, y0, x0 AS x, y0 AS y, 0::BIGINT AS hd FROM t)",
    ]
    for i in reversed(range(b)):
        s_ = 1 << i
        parts.append(
            f"""lv{i} AS (
  SELECT x0, y0,
         CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN {s_ - 1} - y ELSE y END AS x,
         CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN {s_ - 1} - x ELSE x END AS y,
         hd + {s_ * s_} * xor(3 * rx, ry) AS hd
  FROM (SELECT x0, y0, x, y, hd,
          CASE WHEN (x & {s_}) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS rx,
          CASE WHEN (y & {s_}) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS ry
        FROM lv{i + 1}))"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT (hd >> {ZB_SHIFT}) AS hbucket, count(*) AS n_events,
       min(x0) AS x_min, max(x0) AS x_max,
       min(y0) AS y_min, max(y0) AS y_max
FROM lv0 GROUP BY 1
"""


ANALYTICS_ORACLES["hilbert_layout_audit"] = _hilbert_audit_sql()
