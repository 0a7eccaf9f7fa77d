"""Additional engine-surface queries beyond direct reference parity:
sessionization, pivot, exact percentiles, JSON extraction stats — standard
OLAP shapes the engine exposes for free via Spark, each oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loaders import load_table
from ..streaming.epochs import drain

SESSION_GAP_S = 1800  # 30 min inactivity closes a session


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream: a session breaks after
    30 min of per-user inactivity. The classic lag+cumsum rewrite — one
    shuffle on user_id, sessions assembled without any stateful op."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ts_s"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    marked = e.withColumn(
        "new_session",
        F.when(F.col("ts_s") - F.lag("ts_s").over(w) > SESSION_GAP_S, 1).otherwise(
            F.when(F.lag("ts_s").over(w).isNull(), 1).otherwise(0)
        ),
    )
    sessions = marked.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts_s").alias("session_start_s"),
            F.max("ts_s").alias("session_end_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_id", "session_start_s", "session_end_s", "n_events")
    )


def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE `session_window`
    operator (the engine's dynamic-gap window surface, also valid in
    Structured Streaming with watermark-driven merging). Same semantics as
    the lag+cumsum rewrite in `sessionize` — session boundaries split
    where per-user inactivity exceeds the gap — so the oracle is the same
    SQL minus the session ordinal (session_window carries no index;
    identity is (user, start))."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.timestamp_seconds(F.col("ts").cast("long")).alias("ts_s")
    )
    # whole-second event times so both engines see identical integer
    # seconds; session_window splits on STRICT diff > gap (an event at
    # exactly start+gap stays in the session — probed, and mirrored by
    # the oracle's > comparison)
    return (
        e.groupBy("user_id", F.session_window("ts_s", f"{SESSION_GAP_S} seconds").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max(F.col("ts_s").cast("long")).alias("session_end_s"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start_s"),
            "session_end_s",
            "n_events",
        )
    )


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts, pivoted to columns (P/U pivot surface)."""
    e = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .select("user_id", *[F.col(t).alias(f"n_{t}") for t in types])
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type.

    Uses Spark's exact `percentile` (sort-based, same linear interpolation
    as DuckDB's quantile_cont) — NOT percentile_approx, which is
    sketch-valued and engine-specific. Rounded to 6dp for the last-ulp
    interpolation divide."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles via percentile_approx (GK-style sketch:
    mergeable, bounded RANK error 1/accuracy — the re-aggregatable scale
    path next to the exact sort-based `value_percentiles`).

    Bounded-error oracle, same pattern as uv_approx: the hashed output
    carries the exact interpolated p50/p90 plus `est_ok`, which asserts
    in-query that each sketch value lies inside the exact value band at
    quantile ±2% (the rank-error guarantee for accuracy=1000 is ±0.1%,
    so the 2% band is a ≫20× safety margin); the oracle expects TRUE."""
    acc = 1000
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.expr(f"percentile_approx(value, 0.5, {acc})").alias("__a50"),
        F.expr(f"percentile_approx(value, 0.9, {acc})").alias("__a90"),
        F.expr("percentile(value, 0.48)").alias("__lo50"),
        F.expr("percentile(value, 0.52)").alias("__hi50"),
        F.expr("percentile(value, 0.88)").alias("__lo90"),
        F.expr("percentile(value, 0.92)").alias("__hi90"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "event_type",
        "p50",
        "p90",
        "n",
        (
            F.col("__a50").between(F.col("__lo50"), F.col("__hi50"))
            & F.col("__a90").between(F.col("__lo90"), F.col("__hi90"))
        ).alias("est_ok"),
    )


def props_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction + distribution stats per k-bucket (the engine's
    semi-structured surface: get_json_object pushdownable scan + agg)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
            F.round(F.min("value"), 6).alias("value_min"),
            F.round(F.max("value"), 6).alias("value_max"),
        )
    )


def tpch_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite over the TPC-H tables — the
    validation a warehouse runs before publishing: PK uniqueness, FK
    integrity (dim parents broadcast), domain ranges, accepted values.
    One (rule, violations) row per check; all zeros on clean data, and
    any nonzero pinpoints the broken constraint without re-scanning."""
    from ..operators.expectations import (
        check_accepted_range,
        check_accepted_values,
        check_not_null,
        check_referential,
        check_unique,
        run_suite,
    )

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return run_suite(
        [
            check_unique(c, ["c_custkey"]),
            check_unique(o, ["o_orderkey"]),
            check_unique(li, ["l_orderkey", "l_linenumber"]),
            check_not_null(o, "o_custkey"),
            check_referential(n, "n_regionkey", r, "r_regionkey"),
            check_referential(c, "c_nationkey", n, "n_nationkey"),
            check_referential(o, "o_custkey", c, "c_custkey"),
            check_referential(li, "l_orderkey", o, "o_orderkey", broadcast_parent=False),
            check_accepted_range(li, "l_quantity", 1, 50),
            check_accepted_range(li, "l_discount", 0.0, 0.1),
            check_accepted_values(o, "o_orderstatus", ["F", "O", "P"]),
        ]
    )


ERROR_GAP_S = 300  # error events hold a session open for only 5 minutes


def sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: `session_window` with a PER-EVENT gap
    column (error events extend their session by only ERROR_GAP_S,
    everything else by SESSION_GAP_S) — the variable-timeout session
    semantics Flink exposes via SessionWindowTimeGapExtractor and Spark
    via the Column-typed gapDuration. Merge rule (pinned by the boundary
    unit test): an event joins the running session iff its ts <= max over
    prior members of (ts + gap) — session extents are END-INCLUSIVE, an
    event landing exactly on the session end merges — and the session end
    is the running max of per-event extents, which is exactly the
    running-max rewrite the DuckDB oracle computes, so the native
    operator's merge semantics are pinned cross-engine."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.timestamp_seconds(F.col("ts").cast("long")).alias("tss"),
        "event_type",
    )
    gap = F.when(F.col("event_type") == "error", F.lit(f"{ERROR_GAP_S} seconds")).otherwise(
        F.lit(f"{SESSION_GAP_S} seconds")
    )
    return (
        e.groupBy("user_id", F.session_window("tss", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start_s"),
            F.col("sw.end").cast("long").alias("session_end_s"),
            "n_events",
        )
    )


def event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native UNPIVOT (melt) — the inverse of `event_type_pivot`: the wide
    per-user count columns fold back to (user_id, event_type, n) long
    form, zero cells dropped. Pivot∘unpivot must round-trip to the plain
    groupBy counts, which is exactly what the oracle computes — so this
    certifies the melt surface against first principles, not against
    another pivot."""
    wide = event_type_pivot(spark, sf_dir)
    types = ["view", "click", "purchase", "signup", "error"]
    return (
        wide.unpivot(
            "user_id",
            [f"n_{t}" for t in types],
            "event_type",
            "n",
        )
        .filter(F.col("n") > 0)
        .select(
            "user_id",
            F.expr("substring(event_type, 3)").alias("event_type"),
            F.col("n").cast("long").alias("n"),
        )
    )


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing via Spark 4's native VariantType:
    `parse_json` once into a variant column (binary-encoded, field access
    without re-parsing — the engine's answer to repeated
    get_json_object scans when MANY fields are pulled from one JSON
    blob), then typed `try_variant_get` extraction feeding a grouped
    aggregate. Same answer as the string-path `props_extract_stats`
    family, different engine surface; at 100 TB the parse happens once
    per row regardless of how many fields downstream operators read."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(F.parse_json("props").alias("v"), "user_id", "value")
    k = F.try_variant_get("v", "$.k", "int")
    return (
        v.select((k % 5).alias("k_mod5"), "user_id", "value")
        .groupBy("k_mod5")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.avg("value"), 6).alias("value_avg"),
        )
    )


def uv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch UV (the A6 scale path beyond plain
    approx_count_distinct): per-day HLL sketches built once, then merged
    upward for the whole-range estimate WITHOUT rescanning events — the
    pattern that replaces the reference's Redis bitmap at 100 TB (store
    daily sketches, union on demand).

    Bounded-error oracle: the hashed output carries the exact overall UV
    plus `est_ok` = |merged-sketch estimate − exact| ≤ 5%·exact (≫3σ for
    the default lgConfigK=12, rsd≈1.6%); the oracle expects TRUE, so the
    sketch's error bound is hash-checked rather than rows-only."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("pv"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
        F.sum("pv").alias("pv_total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = e.agg(F.countDistinct("user_id").alias("uv"))
    return merged.crossJoin(exact).select(
        "uv",
        "pv_total",
        "n_days",
        (F.abs(F.col("__est") - F.col("uv")) <= F.col("uv") * F.lit(0.05)).alias("est_ok"),
    )


def uv_sketch_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED UV sketch under the oracle gate (the
    SEVENTH gated MV stream, and the one whose fold merge is neither a
    sum nor identity): replay events through `run_uv_sketch_stream` —
    per-epoch per-day HLL partials + a first-seen exact-user probe —
    with fold_every=1 + refold_width=2, so the replay itself exercises
    the register-max sketch fold AND a second-tier super-fold, then read
    the maintained state through `uv_sketch_view`. Same four columns and
    the same bounded-error contract as batch `uv_sketch_rollup`, so the
    driver's hash check certifies the sketch-MV maintenance loop under
    the existing oracle."""
    from ..session import sf_namespace
    from ..streaming.ingest import run_uv_sketch_stream, uv_sketch_view

    name = f"q_uvsk_{sf_namespace(sf_dir)}"
    q = run_uv_sketch_stream(spark, sf_dir, name=name, fold_every=1, refold_width=2)
    drain(spark, q, f"{name}_sketches", f"{name}_users")
    return uv_sketch_view(spark, name)


def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, priority), two-level: first a plain groupBy to
    the full (segment, priority) grid — the only pass that touches fact
    rows, with map-side partial aggregation — then CUBE over that tiny
    grid, re-aggregating counts/sums as sums. A direct cube() puts
    Catalyst's Expand UNDER the aggregate, duplicating every fact row
    once per grouping set (4× scan volume at 100 TB); here Expand sees
    |segments|×|priorities| rows. Decimal addition is associative, so the
    two-level sum is bit-identical to the one-level one.

    Correctness bound: requires the dim columns themselves NULL-free
    (TPC-H guarantees it) — otherwise a data NULL at level 1 would merge
    with the rollup NULL marker; the general fix is a sentinel coalesce
    before the pre-agg."""
    from pyspark.sql import functions as F

    from ..sources.loaders import load_table

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
    return (
        grid.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.sum("_n").alias("n_orders"),
            F.sum("_t").cast("double").alias("total_price"),
        )
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy 3-stage conversion funnel per user: earliest view, then
    earliest click STRICTLY after it, then earliest purchase strictly
    after that — the standard product-analytics funnel (the sequenced
    generalization of the reference's single followedBy CEP,
    OrderTimeoutAppWithCep.java:50).

    Shape: ONE shuffle — groupBy(user) collects the (ts, type) array
    sorted and a built-in aggregate() fold walks it once. No joins, no
    window functions, no Python. Per-user state during the fold is three
    longs. (At adversarial per-user event skew the same semantics are
    expressible as three chained min-aggregations — documented
    alternative, one extra shuffle each.)

    The fold is order-deterministic: array_sort on (t, e) breaks
    same-microsecond ties by event name, and the strictly-greater guards
    make the result identical to the oracle's min-join formulation
    (min click > t1 == first click after t1 in sorted order).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin(*FUNNEL_STAGES))
    arr = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.unix_micros("ts").alias("t"), F.col("event_type").alias("e")))
        ).alias("evs")
    )
    nul = F.lit(None).cast("long")
    folded = arr.select(
        "user_id",
        F.aggregate(
            "evs",
            F.struct(nul.alias("t1"), nul.alias("t2"), nul.alias("t3")),
            lambda acc, x: F.struct(
                F.when(acc.t1.isNull() & (x.e == FUNNEL_STAGES[0]), x.t).otherwise(acc.t1).alias("t1"),
                F.when(
                    acc.t2.isNull() & acc.t1.isNotNull() & (x.e == FUNNEL_STAGES[1]) & (x.t > acc.t1),
                    x.t,
                ).otherwise(acc.t2).alias("t2"),
                F.when(
                    acc.t3.isNull() & acc.t2.isNotNull() & (x.e == FUNNEL_STAGES[2]) & (x.t > acc.t2),
                    x.t,
                ).otherwise(acc.t3).alias("t3"),
            ),
        ).alias("f"),
    )
    return (
        folded.filter(F.col("f.t1").isNotNull())
        .select(
            "user_id",
            F.col("f.t1").alias("t_view_us"),
            F.col("f.t2").alias("t_click_us"),
            F.col("f.t3").alias("t_purchase_us"),
            F.when(F.col("f.t3").isNotNull(), 3)
            .when(F.col("f.t2").isNotNull(), 2)
            .otherwise(1)
            .cast("long")
            .alias("stage"),
        )
    )


def spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile assignment over per-customer total spend — the bucketing
    family (ntile semantics) over the total order (spend desc, custkey),
    engine-independent boundaries.

    Computed via `global_rank_ntile` (operators/ranking.py): range-
    partitioned sort + per-partition offsets, bit-identical to a
    partition-less ntile(10) window but with no single-task sort over
    the per-customer aggregate — holds at extreme customer cardinality
    (the only partition-less window left reads the P-row per-partition
    count frame)."""
    from pyspark.sql import functions as F

    from ..operators.ranking import global_rank_ntile
    from ..sources.loaders import load_table

    o = load_table(spark, sf_dir, "orders")
    totals = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_t")
    )
    return global_rank_ntile(totals, [F.desc("_t"), F.asc("o_custkey")], n=10).select(
        "o_custkey",
        F.col("_t").cast("double").alias("total_spend"),
        F.col("ntile").alias("decile"),
    )


def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: how late do events arrive relative to the
    per-key high-water mark? This is the batch query that justifies a
    watermark delay budget (WM1/WM2) before deploying the streaming jobs —
    the reference hardcodes its bounded-out-of-orderness seconds
    (e.g. HotItemApp.java:35's 1s); this measures what the data actually
    needs.

    Arrival order is the monotone ingest id (event_id); lateness of an
    event is high_water_mark(ts so far, same user) − ts, in whole seconds.
    Partitioned by user_id, so the window sort distributes (one shuffle);
    everything downstream is integer-exact aggregation per event_type."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("ts_s")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = e.withColumn("lateness_s", F.max("ts_s").over(w) - F.col("ts_s"))
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lateness_s") > 0).cast("long")).alias("n_out_of_order"),
        F.max("lateness_s").alias("max_lateness_s"),
        F.sum("lateness_s").alias("sum_lateness_s"),
    )


CHURN_SPLIT = "2024-01-16"  # events span 2024-01-01..01-30; mid-month split


def user_churn_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 set operations as first-class citizens: INTERSECT / EXCEPT on
    user-activity sets across the two halves of the month — retained
    (active both), churned (first half only), new (second half only).

    Set ops compile to the same shuffle machinery as joins (EXCEPT →
    left-anti, INTERSECT → left-semi over distinct rows), so the cost
    model is one shuffle per side on user_id; the three branches reuse
    the two distinct frames, which are persisted for exactly that reason."""
    e = load_table(spark, sf_dir, "events")
    first = e.filter(F.col("ts") < CHURN_SPLIT).select("user_id").distinct().persist()
    second = e.filter(F.col("ts") >= CHURN_SPLIT).select("user_id").distinct().persist()
    return (
        first.intersect(second)
        .select("user_id", F.lit("retained").alias("status"))
        .unionByName(first.exceptAll(second).select("user_id", F.lit("churned").alias("status")))
        .unionByName(second.exceptAll(first).select("user_id", F.lit("new").alias("status")))
    )


def time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join surface: for every view event, the user's next
    purchase at-or-after it and the wait in seconds (NULL when the user
    never purchases again) — time-to-conversion feature extraction. One
    shuffle on user_id, zero row blowup (operators/asof.py carry form);
    the oracle is DuckDB's native forward ASOF (`ON v.ts <= p.ts`)."""
    from ..operators.asof import asof_join_forward

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_s"), "event_type"
    )
    views = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts_s")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_s").alias("p_ts_s")
    )
    out = asof_join_forward(
        views,
        purchases,
        on=["user_id"],
        left_ts="ts_s",
        right_ts="p_ts_s",
        payload_cols=["p_ts_s"],
        tiebreak="p_ts_s",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_s",
        F.col("p_ts_s").alias("next_purchase_s"),
        (F.col("p_ts_s") - F.col("ts_s")).alias("wait_s"),
    )


def nation_spend_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist window surface: each customer's spend
    percentile WITHIN their nation (exact decimal spend drives the order,
    so ranking is engine-exact; tied spends share a percentile by the
    percent_rank definition in both engines)."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    j = (
        spend.join(c, spend.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", "spend")
    )
    w = Window.partitionBy("n_name").orderBy("spend")
    # ORDER on the exact decimal; EMIT as double (cross-engine decimal
    # stringification differs, double round(2) hashes identically).
    # pct_rank/cume are emitted UNROUNDED: both engines compute the same
    # k/(n−1) and k/n rationals, and explicit round(…,6) hits half-way
    # ties (e.g. 3330/6400 = 0.52031250 at sf0.1) where Spark's HALF_UP
    # and DuckDB's nearest-double disagree — the pagerank lesson
    return j.select(
        "n_name",
        "c_custkey",
        F.round(F.col("spend").cast("double"), 2).alias("spend"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def corpus_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tpch_expectations analog for the curation tables: the
    constraint suite a training-data pipeline runs before a corpus
    version is published — PK uniqueness, payload presence, metadata↔
    payload consistency (n_chars must equal length(text) — a mismatch
    means a truncated rewrite), accepted language codes, embedding
    dimensionality and label domain. One (rule, violations) row per
    check; any nonzero names the broken invariant without a re-scan."""
    from ..operators.expectations import (
        check_accepted_range,
        check_accepted_values,
        check_expression,
        check_not_null,
        check_unique,
        run_suite,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return run_suite(
        [
            check_unique(d, ["doc_id"]),
            check_not_null(d, "text"),
            check_expression(d, "n_chars = length(text)", "consistent:n_chars"),
            check_expression(d, "length(text) > 0", "non_empty:text"),
            check_accepted_values(d, "lang", ["de", "en", "es", "fr", "zh"]),
            check_unique(e, ["vec_id"]),
            check_expression(e, "size(embedding) = 64", "dim:embedding=64"),
            check_accepted_range(e, "label", 0, 9),
        ]
    )


FUZZY_MAX_DIST = 3  # levenshtein threshold for a candidate entity match
FUZZY_BLOCK_CAP = 1000  # blocks with more distinct names than this are dropped


def fuzzy_part_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution (record linkage) over part names:
    pairs of DISTINCT names within an edit distance of FUZZY_MAX_DIST,
    candidate-generated by a blocking key (first token) so the pairwise
    step is Σ-block², never N². The standard dedup shape for free-text
    dimension values — vendor/product/address normalization before a
    join, catalog merge after an acquisition.

    Scale shape, in order: (1) collapse rows to DISTINCT names first —
    the quadratic stage runs over entity mentions (bounded vocab), not
    table rows, and each name carries its occurrence count; (2) block by
    first token (equality join — hash-shuffled, no cross join); (3)
    `levenshtein` is a JVM codegen built-in, evaluated only on
    within-block pairs. Hot blocks are the skew risk at 100 TB, so the
    DF-cap posture of dedup_ngram_jaccard is IMPLEMENTED, not just
    documented: blocks holding more than FUZZY_BLOCK_CAP distinct names
    are dropped before the quadratic stage (an adversarial stop-word
    first token can no longer force a cap²-pair task; the cap is a
    window-count filter, one extra tiny aggregation). The a<b inequality
    halves the block square and makes each unordered pair unique."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n"), F.min("p_partkey").alias("min_key")
    )
    blocked = names.select(
        F.split(F.col("p_name"), " ").getItem(0).alias("block"),
        F.col("p_name"),
        "n",
        "min_key",
    )
    block_sizes = blocked.groupBy("block").agg(F.count(F.lit(1)).alias("block_n"))
    blocked = (
        blocked.join(block_sizes, "block")
        .where(F.col("block_n") <= FUZZY_BLOCK_CAP)
        .drop("block_n")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(b, on="block")
        .where(F.col("a.p_name") < F.col("b.p_name"))
        .where(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= FUZZY_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.least("a.min_key", "b.min_key").alias("canonical_key"),
        )
    )


def time_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: per user, a dense DAILY grid
    spanning that user's first..last event date, daily totals where the
    day had events, and last-observation-carried-forward (LOCF) filling
    across the gaps — the standard step before feeding irregular event
    streams to anything expecting a regular cadence (forecasting, rolling
    features, charting).

    Shape: the grid is generated RELATIONALLY — `sequence(d0, d1)` +
    explode off a per-user min/max aggregate, so grid size is
    Σ_user(span_days), never users × global_span; the fill is one
    `last(ignorenulls)` running window per user (a single hash partition
    per key, no self-join, no driver loop). Daily sums are fixed-point
    cents (values carry 2 decimals) so the aggregation is
    partition-order independent and the oracle hash-exact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("user_id", "day").agg(
        F.sum("cents").alias("day_cents"), F.count(F.lit(1)).alias("n_events")
    )
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.round(F.col("day_cents") / 100.0, 2).alias("day_value"),
        F.round(
            F.last("day_cents", ignorenulls=True).over(w) / 100.0, 2
        ).alias("filled_value"),
    )


def sessionize_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTALLY-MAINTAINED sessionization under the oracle gate
    — the MV family's interval-merge member: replay events as 3
    OUT-OF-ORDER arrival chunks (hash-split, so every chunk spans the
    full time range and late events bridge previously-separate session
    fragments) through `run_session_ivm_stream` with fold_every=2 +
    refold_width=2, then read each user's newest session-list version.
    The oracle is batch sessionize_native's own SQL, so the driver
    hash-certifies that merge-by-versioning converges to exactly the
    batch gap-sessionization at any arrival order."""
    from ..session import sf_namespace
    from ..streaming.ingest import run_session_ivm_stream, sessions_view

    name = f"q_sessmv_{sf_namespace(sf_dir)}"
    q = run_session_ivm_stream(
        spark, sf_dir, name=name, n_chunks=3, fold_every=2, refold_width=2,
        gap_s=SESSION_GAP_S,
    )
    drain(spark, q, f"{name}_sess")
    return sessions_view(spark, name)


EXTRA_QUERIES = {
    "sessionize_stream_view": sessionize_stream_view,
    "late_arrival_audit": late_arrival_audit,
    "user_churn_sets": user_churn_sets,
    "funnel_conversion": funnel_conversion,
    "sales_cube": sales_cube,
    "spend_deciles": spend_deciles,
    "sessionize": sessionize,
    "sessionize_native": sessionize_native,
    "event_type_pivot": event_type_pivot,
    "value_percentiles": value_percentiles,
    "value_quantile_sketch": value_quantile_sketch,
    "props_extract_stats": props_extract_stats,
    "uv_sketch_rollup": uv_sketch_rollup,
    "uv_sketch_stream_view": uv_sketch_stream_view,
    "time_to_purchase": time_to_purchase,
    "nation_spend_pct_rank": nation_spend_pct_rank,
    "props_variant_stats": props_variant_stats,
    "sessionize_dynamic_gap": sessionize_dynamic_gap,
    "tpch_expectations": tpch_expectations,
    "event_type_unpivot": event_type_unpivot,
    "fuzzy_part_matches": fuzzy_part_matches,
    "time_grid_fill": time_grid_fill,
    "corpus_expectations": corpus_expectations,
}

EXTRA_ORACLES: dict[str, str] = {
    "corpus_expectations": """
SELECT 'unique:doc_id' AS rule,
       CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS violations
FROM (SELECT count(*) AS n FROM documents GROUP BY doc_id)
UNION ALL
SELECT 'not_null:text', CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) FROM documents
UNION ALL
SELECT 'consistent:n_chars',
       CAST(count(CASE WHEN NOT coalesce(n_chars = length(text), FALSE) THEN 1 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'non_empty:text',
       CAST(count(CASE WHEN NOT coalesce(length(text) > 0, FALSE) THEN 1 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'accepted:lang',
       CAST(count(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr','zh') THEN 1 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'unique:vec_id', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS n FROM embeddings GROUP BY vec_id)
UNION ALL
SELECT 'dim:embedding=64',
       CAST(count(CASE WHEN NOT coalesce(len(embedding) = 64, FALSE) THEN 1 END) AS BIGINT)
FROM embeddings
UNION ALL
SELECT 'range:label',
       CAST(count(CASE WHEN label IS NULL OR label < 0 OR label > 9 THEN 1 END) AS BIGINT)
FROM embeddings
""",
    "fuzzy_part_matches": f"""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n, min(p_partkey) AS min_key
  FROM part GROUP BY p_name
), blocked_raw AS (
  SELECT split_part(p_name, ' ', 1) AS block, p_name, n, min_key FROM names
), blocked AS (
  SELECT * FROM blocked_raw
  WHERE block IN (
    SELECT block FROM blocked_raw GROUP BY block HAVING count(*) <= {FUZZY_BLOCK_CAP})
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.n AS n_a, b.n AS n_b,
       least(a.min_key, b.min_key) AS canonical_key
FROM blocked a JOIN blocked b ON a.block = b.block
WHERE a.p_name < b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
""",
    "time_grid_fill": """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT user_id, day, SUM(cents) AS day_cents,
         CAST(count(*) AS BIGINT) AS n_events
  FROM e GROUP BY 1, 2
), grid AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)
), j AS (
  SELECT g.user_id, g.day, d.day_cents, COALESCE(d.n_events, 0) AS n_events
  FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
)
SELECT user_id, day, n_events,
       round(day_cents / 100.0, 2) AS day_value,
       round(last_value(day_cents IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0,
             2) AS filled_value
FROM j
""",
    "event_type_unpivot": """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')
GROUP BY 1, 2
""",
    "tpch_expectations": """
SELECT 'unique:c_custkey' AS rule,
       CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS violations
FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey)
UNION ALL
SELECT 'unique:o_orderkey', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'unique:l_orderkey,l_linenumber', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'not_null:o_custkey', CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) FROM orders
UNION ALL
SELECT 'fk:n_regionkey', CAST(count(*) AS BIGINT)
FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)
UNION ALL
SELECT 'fk:c_nationkey', CAST(count(*) AS BIGINT)
FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
UNION ALL
SELECT 'fk:o_custkey', CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'fk:l_orderkey', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'range:l_quantity',
       CAST(count(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50 THEN 1 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'range:l_discount',
       CAST(count(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.1 THEN 1 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'accepted:o_orderstatus',
       CAST(count(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END) AS BIGINT)
FROM orders
""",
    "sessionize_dynamic_gap": f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN event_type = 'error' THEN {ERROR_GAP_S} ELSE {SESSION_GAP_S} END AS gap
  FROM events
),
m AS (
  SELECT user_id, ts_s, gap,
         max(ts_s + gap) OVER (PARTITION BY user_id ORDER BY ts_s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM e
),
marked AS (
  SELECT user_id, ts_s, gap,
         CASE WHEN prev_end IS NULL OR ts_s > prev_end THEN 1 ELSE 0 END AS new_session
  FROM m
),
numbered AS (
  SELECT user_id, ts_s, gap,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_s) AS session_start_s,
       max(ts_s + gap) AS session_end_s,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, sid
""",
    "props_variant_stats": """
SELECT CAST(json_extract(props, '$.k') AS INT) % 5 AS k_mod5,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(avg(value), 6) AS value_avg
FROM events GROUP BY 1
""",
    "nation_spend_pct_rank": """
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS spend
  FROM orders GROUP BY 1
)
SELECT n.n_name, c.c_custkey, round(CAST(s.spend AS DOUBLE), 2) AS spend,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM spend s
JOIN customer c ON s.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WINDOW w AS (PARTITION BY n.n_name ORDER BY s.spend)
""",
    # dedupe equal-ts purchases first (mirror of the Spark tiebreak) so
    # ASOF's unspecified tie choice can't differ
    "time_to_purchase": """
WITH v AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events WHERE event_type = 'view'),
p AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_ts_s FROM events WHERE event_type = 'purchase')
SELECT v.event_id, v.user_id, v.ts_s,
       p.p_ts_s AS next_purchase_s,
       p.p_ts_s - v.ts_s AS wait_s
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts_s <= p.p_ts_s
""",
    "user_churn_sets": f"""
WITH first AS (SELECT DISTINCT user_id FROM events WHERE ts < '{CHURN_SPLIT}'),
     second AS (SELECT DISTINCT user_id FROM events WHERE ts >= '{CHURN_SPLIT}')
SELECT user_id, 'retained' AS status FROM (SELECT user_id FROM first INTERSECT SELECT user_id FROM second)
UNION ALL
SELECT user_id, 'churned' AS status FROM (SELECT user_id FROM first EXCEPT SELECT user_id FROM second)
UNION ALL
SELECT user_id, 'new' AS status FROM (SELECT user_id FROM second EXCEPT SELECT user_id FROM first)
""",
    "late_arrival_audit": """
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
), late AS (
  SELECT event_type,
         max(ts_s) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) - ts_s AS lateness_s
  FROM e
)
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN lateness_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       max(lateness_s) AS max_lateness_s,
       CAST(sum(lateness_s) AS BIGINT) AS sum_lateness_s
FROM late GROUP BY 1
""",
    # min-join formulation of the greedy funnel — provably equal to the
    # Spark fold: first-in-sorted-order with a strictly-greater guard IS
    # the conditional minimum at each stage.
    "funnel_conversion": f"""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1
), c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND epoch_us(e.ts) > v.t1
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND epoch_us(e.ts) > c.t2
  GROUP BY 1
)
SELECT v.user_id, v.t1 AS t_view_us, c.t2 AS t_click_us, p.t3 AS t_purchase_us,
       CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                 WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
    "sales_cube": """
SELECT c.c_mktsegment, o.o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
""",
    "spend_deciles": """
WITH totals AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS t
  FROM orders GROUP BY 1
)
SELECT o_custkey,
       CAST(t AS DOUBLE) AS total_spend,
       CAST(ntile(10) OVER (ORDER BY t DESC, o_custkey ASC) AS INT) AS decile
FROM totals
""",
    "sessionize": f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id FROM events
), marked AS (
  SELECT user_id, ts_s, event_id,
         CASE WHEN lag(ts_s) OVER w IS NULL THEN 1
              WHEN ts_s - lag(ts_s) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
), sessions AS (
  SELECT user_id, ts_s,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, min(ts_s) AS session_start_s, max(ts_s) AS session_end_s,
       count(*) AS n_events
FROM sessions GROUP BY 1, 2
""",
    # native session_window semantics: split when the whole-second gap
    # between consecutive events is >= SESSION_GAP_S (session end excl.)
    "sessionize_native": f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id FROM events
), marked AS (
  SELECT user_id, ts_s, event_id,
         CASE WHEN lag(ts_s) OVER w IS NULL THEN 1
              -- STRICT >: session_window keeps an event landing exactly
              -- at start+gap in the same session (probed on Spark 4.1:
              -- events at 0 and 1800 with a 1800s gap merge) — an
              -- exact-gap boundary first appears in the sf0.1 data
              WHEN ts_s - lag(ts_s) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
), sessions AS (
  SELECT user_id, ts_s,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(ts_s) AS session_start_s, max(ts_s) AS session_end_s,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid
""",
    "event_type_pivot": """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
FROM events GROUP BY 1
""",
    "value_percentiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events GROUP BY 1
""",
    # sketch values are engine-specific; exact quantiles hash-checked,
    # est_ok (sketch within the exact +-2%-quantile value band) must be TRUE
    "value_quantile_sketch": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       count(*) AS n,
       TRUE AS est_ok
FROM events GROUP BY 1
""",
    "props_extract_stats": """
SELECT CAST(CAST(props->>'k' AS INT) % 10 AS INT) AS k_bucket,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       round(min(value), 6) AS value_min,
       round(max(value), 6) AS value_max
FROM events GROUP BY 1
""",
    # uv_sketch_rollup: exact uv hash-checked; est_ok (sketch within 5%) must be TRUE
    "uv_sketch_rollup": """
SELECT count(DISTINCT user_id) AS uv,
       count(*) AS pv_total,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       TRUE AS est_ok
FROM events WHERE event_type = 'view'
""",
    # the stream view shares the batch contract (exact uv from the
    # first-seen probe, merged-sketch estimate inside the 5% bound)
    "uv_sketch_stream_view": """
SELECT count(DISTINCT user_id) AS uv,
       count(*) AS pv_total,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       TRUE AS est_ok
FROM events WHERE event_type = 'view'
""",
}

EXTRA_ORACLES["sessionize_stream_view"] = EXTRA_ORACLES["sessionize_native"]


def sessionize_purged_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionization-MV replay followed by VERSION GC
    (`purge_superseded_sessions` — drops only versions superseded by a
    committed, non-replayable newer one; the newest epoch's inputs
    survive), then the served sessions under the same batch oracle:
    the driver hash-certifies the GC changes bytes, never results."""
    from ..session import sf_namespace
    from ..streaming.ingest import (
        purge_superseded_sessions,
        run_session_ivm_stream,
        sessions_view,
    )

    name = f"q_sessmvp_{sf_namespace(sf_dir)}"
    q = run_session_ivm_stream(
        spark, sf_dir, name=name, n_chunks=3, fold_every=2, refold_width=2,
        gap_s=SESSION_GAP_S,
    )
    drain(spark, q, f"{name}_sess")
    purge_superseded_sessions(spark, name)
    return sessions_view(spark, name)


EXTRA_QUERIES["sessionize_purged_stream_view"] = sessionize_purged_stream_view
EXTRA_ORACLES["sessionize_purged_stream_view"] = EXTRA_ORACLES["sessionize_native"]
