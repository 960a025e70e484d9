"""Generic relational operators over the driver's TPC-H-ish tables —
the task-template categories (SURVEY.md section 2.4) exercised beyond the
text pipeline: multi-way broadcast joins, filtered aggregations, window
functions (rank, lag + cumulative sum sessionization).

Every op here has a bit-exact DuckDB twin in ``__spark_entry__``; floats
are rounded in-query, timestamps never leave the query (epoch seconds
instead) to dodge engine-specific rendering."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_proofreader_spark.operators.word_freq import r1_words

# the inactivity gap that closes a user's session, in minutes — shared by
# the batch sessionizer and both streaming ones
SESSION_GAP_MINUTES = 30
# the percentiles both quantile operators report
QUANTILES = (25, 50, 75, 95)


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped rollup: filtered scan -> partial+final hash agg."""
    return (lineitem
            .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("n_rows")))


def region_revenue(region: DataFrame, nation: DataFrame,
                   customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Multi-way join chain with broadcast dims: region -> nation ->
    customer -> orders revenue rollup."""
    return (orders
            .join(F.broadcast(customer),
                  orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation),
                  customer.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def top_words_per_lang(docs: DataFrame) -> DataFrame:
    """Window rank over an aggregation: top-5 words by count per lang
    (ties broken lexicographically for determinism)."""
    counts = (r1_words(docs, "text", "lang")
              .groupBy("lang", "word").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    return (counts
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 5))


def sessionize(events: DataFrame) -> DataFrame:
    """Session assignment: lag + cumulative sum over an event-time window
    (the classic gap-based sessionization), then per-session rollup.
    Timestamps are reduced to epoch seconds so outputs are
    engine-portable."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = SESSION_GAP_MINUTES * 60
    with_gap = (events
                .withColumn("prev_ts", F.lag("ts").over(w))
                .withColumn(
                    "new_sess",
                    F.when(F.col("prev_ts").isNull(), 1)
                    .when(F.unix_timestamp("ts")
                          - F.unix_timestamp("prev_ts") > gap, 1)
                    .otherwise(0)))
    sess = with_gap.withColumn(
        "session_no", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    return (sess
            .groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.min(F.unix_timestamp("ts")).alias("start_epoch"),
                 F.max(F.unix_timestamp("ts")).alias("end_epoch"),
                 F.round(F.sum("value"), 3).alias("total_value")))


def promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-shaped: broadcast part-dimension join + conditional
    aggregation (promo revenue share per brand)."""
    j = lineitem.join(F.broadcast(part),
                      lineitem.l_partkey == part.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.groupBy("p_brand")
            .agg(F.round(F.sum(F.when(F.col("p_type").startswith("PROMO"),
                                      rev).otherwise(F.lit(0.0))), 2)
                 .alias("promo_rev"),
                 F.round(F.sum(rev), 2).alias("total_rev"),
                 F.count("*").alias("n_lines")))


def supplier_nation_revenue(lineitem: DataFrame, supplier: DataFrame,
                            nation: DataFrame) -> DataFrame:
    """Two chained broadcast dimension joins: revenue by supplier
    nation (TPC-H Q5/Q7 shape on the supplier side)."""
    j = (lineitem
         .join(F.broadcast(supplier),
               lineitem.l_suppkey == supplier.s_suppkey)
         .join(F.broadcast(nation),
               supplier.s_nationkey == nation.n_nationkey))
    return (j.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_lines")))


def orders_rollup_cube(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Hierarchical ROLLUP aggregation (grouping-sets family): order
    counts and revenue by (mktsegment, orderstatus), by mktsegment, and
    grand total.  Subtotal rows are labelled 'ALL' via grouping() — not
    coalesce — so a genuine NULL group key can never masquerade as a
    subtotal."""
    j = orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
    return (j.rollup("c_mktsegment", "o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.grouping("c_mktsegment").alias("_g1"),
                 F.grouping("o_orderstatus").alias("_g2"))
            .select(F.when(F.col("_g1") == 1, F.lit("ALL"))
                    .otherwise(F.col("c_mktsegment")).alias("mktsegment"),
                    F.when(F.col("_g2") == 1, F.lit("ALL"))
                    .otherwise(F.col("o_orderstatus")).alias("orderstatus"),
                    "n_orders", "revenue"))


def asof_join_events(events: DataFrame) -> DataFrame:
    """AS-OF join — an operator Spark lacks natively — as a composition
    of built-ins: each purchase event matched to the most recent view
    event of the same user with ``r.ts <= l.ts``
    (backward-inclusive, DuckDB ASOF JOIN semantics, which is the twin).

    Physical strategy: union-tag the two sides and take
    ``last(..., ignorenulls)`` over a (user, ts)-ordered running window
    — ONE shuffle on the join key and a linear scan, instead of the
    range-join explosion a theta-join would plan.  At equal timestamps
    the right side sorts first (inclusive match) and the right side is
    pre-deduped to max event_id per (user, ts) so the winner is
    deterministic — the exact rule the oracle applies."""
    base = events.select("user_id", "event_id", "ts", "event_type")
    right = (base.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("r_event_id")))
    left = base.filter(F.col("event_type") == "purchase")
    tagged = (right.select("user_id", "ts",
                           F.lit(None).cast("long").alias("event_id"),
                           "r_event_id",
                           F.col("ts").alias("r_ts"),
                           F.lit(1).alias("is_r"))
              .unionByName(left.select(
                  "user_id", "ts", "event_id",
                  F.lit(None).cast("long").alias("r_event_id"),
                  F.lit(None).cast("timestamp").alias("r_ts"),
                  F.lit(0).alias("is_r"))))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("is_r").desc(),
                  F.col("event_id").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (tagged
               .withColumn("m_event_id",
                           F.last("r_event_id", ignorenulls=True).over(w))
               .withColumn("m_ts",
                           F.last("r_ts", ignorenulls=True).over(w))
               .filter(F.col("is_r") == 0))
    return matched.select(
        "user_id", "event_id",
        F.col("m_event_id").alias("matched_event_id"),
        (F.floor(F.unix_timestamp("ts"))
         - F.floor(F.unix_timestamp("m_ts"))).cast("long")
        .alias("lag_sec"))


def range_join_events(events: DataFrame) -> DataFrame:
    """RANGE join — each purchase event counts the same user's view
    events inside the preceding hour (r.ts in (l.ts - 3600 s, l.ts]).

    Physical strategy: a naive theta-join on the BETWEEN predicate
    plans as BroadcastNestedLoop/Cartesian — quadratic per user.
    Instead both sides are bucketized into window-sized time bins and
    the left side probes its own and the previous bin (every interval
    of length w intersects exactly 2 w-aligned bins), making the join a
    plain equi hash join on (user_id, bin) with the exact range
    predicate re-applied as a post-filter — the standard range-join
    binning optimization (pinned BNLJ-free in tests/test_plans.py).
    Cost: each LEFT row probes 2 bins (the left side is duplicated
    once), vs the unbounded per-user blowup of the nested loop."""
    window_sec = 3600
    base = events.select("user_id", "event_id", "ts", "event_type",
                         F.floor(F.unix_timestamp("ts")).alias("epoch"))
    left = (base.filter(F.col("event_type") == "purchase")
            .select("user_id", "event_id", "epoch",
                    F.floor(F.col("epoch") / window_sec).alias("bin")))
    right = (base.filter(F.col("event_type") == "view")
             .select("user_id",
                     F.col("epoch").alias("r_epoch"),
                     F.floor(F.col("epoch") / window_sec).alias("r_bin")))
    probes = left.withColumn(
        "probe_bin", F.explode(F.array(F.col("bin"), F.col("bin") - 1)))
    joined = probes.join(
        right,
        (probes.user_id == right.user_id)
        & (probes.probe_bin == right.r_bin), "left")
    in_range = (F.col("r_epoch").isNotNull()
                & (F.col("r_epoch") > F.col("epoch") - window_sec)
                & (F.col("r_epoch") <= F.col("epoch")))
    return (joined
            .groupBy(probes.user_id, "event_id")
            .agg(F.sum(F.when(in_range, 1).otherwise(0))
                 .cast("long").alias("n_views_prior_hour"))
            .select(F.col("user_id"), "event_id", "n_views_prior_hour"))


def late_shipment_orders(orders: DataFrame,
                         lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 flavor: per order priority, how many orders have at
    least one line item shipped AFTER the order date (an EXISTS
    correlated subquery, planned as a LEFT SEMI join — the duplicate-
    free exists-check shape; at scale both sides shuffle once on the
    order key with the semi join suppressing the fanout a plain join
    + distinct would pay)."""
    late = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > orders.o_orderdate),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


def order_count_distribution(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """TPC-H Q13: the distribution of orders-per-customer INCLUDING
    zero-order customers — the left outer join + double aggregation
    pattern (join fanout aggregated per customer, then histogrammed)."""
    per_cust = (customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("n_customers")))


def above_avg_balance(customer: DataFrame) -> DataFrame:
    """Correlated-subquery pattern (customers above their NATION's
    average balance) decorrelated into one aggregate + join, with the
    comparison done in EXACT integer arithmetic: c_cents * n_nation >
    sum_cents_nation cross-multiplies away the division, so the result
    cannot flip on ulp differences between engines' double averages
    (a customer exactly AT the mean is excluded identically
    everywhere)."""
    cents = F.floor(F.col("c_acctbal") * 100).cast("long")
    per_nation = (customer
                  .select("c_nationkey", cents.alias("cents"))
                  .groupBy("c_nationkey")
                  .agg(F.sum("cents").alias("sum_cents"),
                       F.count("*").alias("n")))
    return (customer
            .select("c_custkey", "c_nationkey", cents.alias("cents"))
            .join(per_nation, "c_nationkey")
            .filter(F.col("cents") * F.col("n") > F.col("sum_cents"))
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_above"),
                 F.max("cents").alias("max_cents")))


# The exact rule's target rank for percentile p of n values,
# ceil(n * p / 100) in integer arithmetic
TARGET_RANK = "div(n * p + 99, 100)"


def _flag_cents(lineitem: DataFrame) -> DataFrame:
    """(flag, cents): l_returnflag and l_extendedprice in integer cents."""
    return lineitem.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"))


def _exact_quantiles(vals: DataFrame):
    """The exact rule over ``(flag, cents)`` rows: ``(cum, n, exact)``,
    the per-flag value histogram with its running count ``cum``, the
    per-flag count ``n``, and the ``(flag, p, q_cents)`` quantiles
    (see :func:`group_quantiles_disc`)."""
    hist = vals.groupBy("flag", "cents").agg(F.count("*").alias("c"))
    w = (Window.partitionBy("flag").orderBy("cents")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.withColumn("cum", F.sum("c").over(w))
    n = hist.groupBy("flag").agg(F.sum("c").alias("n"))
    exact = (cum.join(n, "flag")
             .select("flag", "cents", "cum", "n",
                     F.explode(F.array(*[F.lit(p) for p in QUANTILES]))
                     .alias("p"))
             .filter(F.col("cum") >= F.expr(TARGET_RANK))
             .groupBy("flag", "p")
             .agg(F.min("cents").alias("q_cents")))
    return cum, n, exact


def group_quantiles_disc(lineitem: DataFrame) -> DataFrame:
    """EXACT discrete quantiles per group, at scale: the p-th
    percentile of l_extendedprice (integer cents) per l_returnflag,
    defined as the smallest value whose cumulative count reaches
    ceil(p * n / 100).

    Scale shape — exact distributed quantiles without a global sort:
    (1) collapse rows to a VALUE HISTOGRAM with a partial+final hash
    aggregate on (group, value) — 10^12 rows reduce to the distinct-
    value count per group, bounded by the value domain (price cents),
    not the row count; (2) a running sum over the histogram's ordered
    distinct-value axis (the window partition holds distinct values
    only — the one place a window is safe by construction); (3) each
    requested p picks min(value | cum >= threshold) via explode +
    min-aggregate, one pass for all percentiles.  Thresholds use pure
    integer arithmetic (div(n*p + 99, 100) == ceil without doubles) so
    the boundary row cannot flip on engine ulps.  The DuckDB twin
    executes the same explicitly-specified definition over its own
    window/agg machinery — the definition, not the plan, is the
    contract (quantile_disc's native rank rule floor((n-1)*p) differs
    from this ceil rule on small fractional boundaries, so the spec is
    spelled out rather than borrowed)."""
    _, _, exact = _exact_quantiles(_flag_cents(lineitem))
    return exact.select("flag", F.col("p").cast("long").alias("p"),
                        "q_cents")


def group_quantiles_approx_gate(lineitem: DataFrame) -> DataFrame:
    """``percentile_approx`` (Spark's Greenwald-Khanna sketch — the
    constant-memory, map-side-mergeable way to take quantiles of
    10^12 rows) gated against the exact histogram quantiles of
    :func:`group_quantiles_disc`, on the sketch's OWN guarantee: the
    returned value's RANK is within n/accuracy (accuracy 1000) of the
    target rank.  A value-space tolerance would be data-dependent and
    meaningless on skewed distributions; the rank bound is what GK
    actually promises.

    Output per (group, percentile): the exact quantile, the sketch's
    rank error, and the pinned bound boolean.  The DuckDB twin
    recomputes the exact side + booleans only — sketch drift past the
    guarantee fails the hash."""
    vals = _flag_cents(lineitem)
    # the exact side from the sketch's own hist/cum/n frames, not a
    # second scan and aggregation of lineitem (r5 review finding)
    cum, n, exact = _exact_quantiles(vals)

    accuracy = 1000
    fracs = F.array(*[F.lit(p / 100) for p in QUANTILES])
    pcols = F.array(*[F.lit(p) for p in QUANTILES])
    ap = (vals.groupBy("flag")
          .agg(F.percentile_approx("cents", fracs, F.lit(accuracy))
               .alias("qs"))
          .select("flag", F.posexplode(
              F.arrays_zip(pcols.alias("p"), F.col("qs").alias("v")))
              .alias("_i", "pv"))
          .select("flag", F.col("pv.p").alias("p"),
                  F.col("pv.v").alias("v")))
    # rank of the sketch's value = cumulative count at that value
    rank = (ap.join(cum, ["flag"])
            .filter(F.col("cents") <= F.col("v"))
            .groupBy("flag", "p", "v")
            .agg(F.max("cum").alias("rank_v")))
    return (rank.join(n, "flag")
            .join(exact, ["flag", "p"])
            .select("flag", F.col("p").cast("long").alias("p"),
                    "q_cents",
                    (F.abs(F.col("rank_v") - F.expr(TARGET_RANK))
                     <= F.greatest(F.lit(2),
                                   2 * F.col("n") / accuracy))
                    .alias("rank_within_guarantee")))


def trimmed_sum_by_priority(orders: DataFrame) -> DataFrame:
    """Robust revenue per order priority: the sum of o_totalprice
    (integer cents) after trimming the lowest and highest 10 percent of
    orders — an ORDER-STATISTIC aggregate no single built-in
    agg expresses, and the honest use case for Spark's GROUPED_AGG
    pandas UDF flavor (the one Arrow UDF shape the engine did not yet
    exercise: scalar pandas_udf, mapInPandas, applyInPandas and the
    stateful variants all appear elsewhere).

    The UDF receives each group's values as ONE Arrow-backed series and
    reduces vectorized (numpy sort + slice + sum of int64) — partial
    aggregation does not apply to order statistics, so the group's
    values genuinely must meet; memory is bounded by the largest group
    (priorities: ~n/5 rows each; for unbounded groups the histogram
    route of group_quantiles_disc is the scale path, which is why both
    exist).  Trim count k = floor(n * 10 / 100) per side, integer
    math; the output is an exact int64 the DuckDB twin reproduces with
    a sorted-list slice."""
    import warnings

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType

    # the explicit functionType (not type hints) is REQUIRED here:
    # this module's `from __future__ import annotations` stringifies
    # hints, which pyspark's eval-type inference rejects — silence the
    # enum-deprecation UserWarning it triggers
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)

        @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
        def trimmed_sum(v: pd.Series):
            a = np.sort(v.to_numpy(np.int64))
            k = len(a) * 10 // 100
            return int(a[k:len(a) - k].sum())

    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(F.col("o_orderpriority").alias("priority"),
                         cents.alias("cents"))
    # Spark disallows mixing GROUPED_AGG pandas UDFs with non-pandas
    # aggregates in one agg(): count comes from a separate (tiny,
    # priority-cardinality) aggregate joined back
    trimmed = (base.groupBy("priority")
               .agg(trimmed_sum("cents").alias("trimmed_sum_cents")))
    counts = base.groupBy("priority").agg(F.count("*").alias("n_orders"))
    return (trimmed.join(counts, "priority")
            .select("priority", "n_orders", "trimmed_sum_cents"))


EVENT_TYPES = ("click", "view", "purchase", "signup")


def events_pivot(events: DataFrame) -> DataFrame:
    """Reshaping surface, wide direction: per user-bucket event-type
    counts via ``groupBy().pivot()`` with an EXPLICIT value list —
    at scale an unlisted pivot costs a full extra distinct-scan to
    discover the columns and risks an unbounded-width schema; pinning
    the list keeps the plan a single partial+final aggregate.  The
    DuckDB twin spells the same reshape as portable CASE sums."""
    bucket = (F.col("user_id") % 10).cast("long").alias("user_bucket")
    return (events
            .select(bucket, "event_type")
            .groupBy("user_bucket")
            .pivot("event_type", list(EVENT_TYPES))
            .count()
            # count() leaves NULL for absent combos; a count is 0
            .select("user_bucket",
                    *[F.coalesce(F.col(t), F.lit(0)).cast("long")
                      .alias(f"n_{t}") for t in EVENT_TYPES]))


def events_unpivot(events: DataFrame) -> DataFrame:
    """Reshaping surface, long direction: the pivoted wide table
    melted back to (bucket, event_type, n) rows with
    ``DataFrame.unpivot`` — the round-trip pins that pivot/unpivot are
    exact inverses over the explicit value list.  Zero-count cells are
    dropped on both sides so the contract is corpus-independent."""
    wide = events_pivot(events)
    return (wide.unpivot(
        "user_bucket",
        [f"n_{t}" for t in EVENT_TYPES],
        "event_type", "n")
        .withColumn("event_type",
                    F.expr("substring(event_type, 3)"))
        .filter(F.col("n") > 0)
        .select("user_bucket", "event_type", F.col("n").cast("long")))
