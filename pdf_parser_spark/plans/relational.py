"""Relational query plans: the SURVEY.md §2 cross-document operators
re-expressed over the driver's TPC-H-ish tables, plus classic scan/join/agg
benchmarks.  Every query here has a DuckDB oracle in pdf_parser_spark/faces.

Plan-quality notes (verified via .explain("formatted")):
- dimension joins (region/nation/part) broadcast — no shuffle on the big side
- aggregations are partial (map-side combine) before the exchange
- filters/projections sit at the parquet scan (PushedFilters/ReadSchema)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- W1 analog: sequence assignment per group ------------------------------

def w1_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per user over (ts, event_id) — the filing_sequence window
    (ref cli.py:121-124) over the events table.  One shuffle on user_id."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("seq", F.row_number().over(w).cast("long"))
        .select("user_id", "event_id", "seq")
        .orderBy("user_id", "seq")
    )


# --- W2 analog: first-wins mapping -----------------------------------------

def w2_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First value per event_type in (ts, event_id) order — the first-wins
    global mapping (ref consistency.py:17-23) as min_by aggregation."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("value").alias("first_value"))
        .orderBy("event_type")
    )


# --- W3 analog: status rollup ------------------------------------------------

def w3_lang_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy counts + avg — the batch summary (ref cli.py:127-138)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# --- V2 analog: tolerance-banded equality check -------------------------------

def v2_tolerance_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASS/WARN/FAIL banding (ref validate.py:69-108) of reported vs derived
    values: l_extendedprice vs l_quantity * p_retailprice.  Broadcast join on
    part (small dim), CASE banding, groupBy rollup."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    expected = F.col("l_quantity") * F.col("p_retailprice")
    actual = F.col("l_extendedprice")
    rel = F.abs(expected - actual) / F.abs(expected)
    status = (
        F.when(expected == actual, "PASS")
        .when(rel <= 0.01, "WARN")
        .otherwise("FAIL")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .orderBy("status")
    )


# --- W4: sessionization (gap-based) -------------------------------------------

def w4_sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Classic gap sessionization: lag + cumulative sum of gap breaks.
    Two windows over the same (user_id, ts) partitioning — one shuffle."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; interpret as UTC (session TZ) for
    # epoch-second arithmetic, matching the oracle's floor(epoch(ts))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    with_s = events.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


def w6_session_window(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Spark's NATIVE session_window aggregation — the third sessionize
    face beside the lag/cumsum batch form (W4) and the
    applyInPandasWithState stream (st_sessionize), all held to ONE gap
    semantics: three implementations that must agree is a stronger pin
    than one checked twice.  session_window merges events within
    gap-inactivity in the aggregate itself (no window function, no lag):
    one groupBy(user_id, session_window) shuffle, and in streaming the
    same expression is watermark-evictable state — the reason the native
    form exists.

    Boundary pin (MEASURED, not assumed): Spark merges an event at
    exactly prev + gap — touching windows DO merge, the same inclusive
    rule as W4's lag form, here verified at microsecond precision.  The
    first draft assumed the strict reading of "windows that overlap" and
    only the engineered exact-boundary pytest caught it (the real corpus
    has no exact-gap pair, so the oracle passed silently) — which is the
    whole argument for boundary tests.

    Output (user_id, session_start_s, n_events, session_value) — the
    session id is replaced by its start time (floor epoch seconds), which
    the lag/cumsum oracle reproduces as min(ts) per session."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id",
            F.session_window(F.col("ts").cast("timestamp"),
                             f"{int(gap_minutes)} minutes").alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start_s"),
            "n_events", "session_value",
        )
        .orderBy("user_id", "session_start_s")
    )


FUNNEL_STEPS = ("view", "click", "purchase")


def w5_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered first-touch funnel over the event stream — the
    product-analytics staple (and the crawl analog: fetched -> parsed ->
    kept): per user, t1 = first view, t2 = first click strictly AFTER t1,
    t3 = first purchase strictly after t2; a user converts step k iff tk
    exists.  Output: one row per step (step, step_name, n_users, conv_bp)
    with conversion in exact integer basis points of step-1 users.

    Plan: the three first-touch timestamps are chained whole-partition
    window mins over ONE (user_id) partitioning — a single Exchange serves
    all three (each step's condition references the previous step's column,
    which Spark evaluates within the same window stage); then one groupBy
    per user collapses to a user row and one global 3-way count aggregates.
    No per-user sort, no event self-join (the naive funnel is events^3).
    Ties are strict: a click at exactly t1 does NOT convert (pinned)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ts = F.col("ts")
    s1, s2, s3 = FUNNEL_STEPS
    df = events.withColumn(
        "t1", F.min(F.when(F.col("event_type") == s1, ts)).over(w))
    df = df.withColumn(
        "t2", F.min(F.when((F.col("event_type") == s2) & (ts > F.col("t1")),
                           ts)).over(w))
    df = df.withColumn(
        "t3", F.min(F.when((F.col("event_type") == s3) & (ts > F.col("t2")),
                           ts)).over(w))
    per_user = df.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"),
        F.max("t3").alias("t3"))
    agg = per_user.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"),
        F.count("t3").alias("c3"))
    steps = F.explode(F.array(
        F.struct(F.lit(1).alias("step"), F.lit(s1).alias("step_name"),
                 F.col("c1").alias("n")),
        F.struct(F.lit(2).alias("step"), F.lit(s2).alias("step_name"),
                 F.col("c2").alias("n")),
        F.struct(F.lit(3).alias("step"), F.lit(s3).alias("step_name"),
                 F.col("c3").alias("n")),
    ))
    return (
        agg.select(steps.alias("s"), "c1")
        .select(
            F.col("s.step").alias("step"),
            F.col("s.step_name").alias("step_name"),
            F.col("s.n").cast("long").alias("n_users"),
            F.expr("CASE WHEN c1 = 0 THEN 0 ELSE (10000 * s.n) div c1 END")
            .cast("long").alias("conv_bp"),
        )
        .orderBy("step")
    )


# --- scalar regex projection ---------------------------------------------------

def f_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's dominant scalar family (regex capture) over events.props
    JSON-ish strings — JVM regexp_extract, no Python."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_extract("props", r"\"k\":\s*(\d+)", 1).cast("int").alias("k"),
    ).orderBy("event_id")


# --- as-of join (operator Spark lacks natively) --------------------------------

def j_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest order with
    o_orderdate <= ts (tie-break: max o_orderkey).

    Implemented as the scalable union+window pattern — tag both streams,
    sort within the key by (time, stream, orderkey) and carry the last seen
    order forward — ONE shuffle on the key, no range explosion, no
    per-event subquery.  This is how as-of joins are done at 10^12-row scale
    (cf. the sort-merge as-of in kdb/QuestDB literature)."""
    events = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    tagged_orders = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
    )
    tagged_events = events.select(
        F.col("user_id").alias("key"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    # orders sort before events at equal t (<= semantics); equal-date orders
    # sort ascending by o_orderkey so the LAST one wins the tie
    w = (
        Window.partitionBy("key")
        .orderBy("t", "is_event", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = tagged_orders.unionByName(tagged_events).select(
        "is_event",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("o_orderkey"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("o_orderdate"),
    )
    return (
        merged.where(F.col("is_event") == 1)
        .select("event_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    )


# --- set operations -------------------------------------------------------------

def u_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT counts over two customer-key sets (BUILDING
    customers vs customers with orders).  Spark rewrites intersect/except as
    semi/anti hash joins — same shuffle profile as the SQL."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    ).distinct()
    b = orders.select(F.col("o_custkey").alias("k")).distinct()
    rows = [
        a.union(b).distinct().agg(F.count("*").alias("n")).select(F.lit("union").alias("op"), "n"),
        a.intersect(b).agg(F.count("*").alias("n")).select(F.lit("intersect").alias("op"), "n"),
        a.subtract(b).agg(F.count("*").alias("n")).select(F.lit("except").alias("op"), "n"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("op")


# --- rollup aggregation ----------------------------------------------------------

def g_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(l_returnflag, l_linestatus) revenue — hierarchical subtotals in
    one pass (Expand + single shuffle), NULL group keys coalesced to 'ALL'
    for a stable cross-engine representation."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


def g_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(l_returnflag, l_linestatus) revenue — ALL 2^d grouping sets in
    one pass (the rollup's lattice-complete sibling: rollup emits the
    hierarchy's prefixes, cube also emits the (ALL, linestatus) slice a
    dashboard pivots on).  Same Expand + single-shuffle plan; gid =
    grouping_id() distinguishes a real NULL key from a subtotal row — the
    standard disambiguator, here doubling as the cross-engine check that
    both engines assign identical lattice ids (Spark's grouping_id bit
    order matches GROUPING(a, b) concatenation in DuckDB)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue", "n", "gid",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


# --- TPC-H-style headline queries ---------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate over lineitem with a date filter that
    pushes to the scan."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer x orders x lineitem, revenue top-10.
    customer is broadcast; orders/lineitem shuffle on the join key once."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    revenue = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
    ).alias("revenue")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue)
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join, revenue per nation.

    Broadcast ONLY the true dims (region 5 rows, nation 25 rows — constant at
    any SF).  customer/supplier scale linearly with the fact tables (~15B rows
    at 100 TB) so they stay shuffle joins on their keys; AQE picks
    broadcast-hash anyway when a filtered side turns out small at runtime."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side filter + global agg — zero shuffle rows
    beyond the final partial-agg exchange.  All three predicates (shipdate
    range, discount band, quantity cap) push down to the parquet scan
    (PushedFilters), and only 4 of 11 lineitem columns are read (ReadSchema);
    at 100 TB this is the min/max-zone-map fast path."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery as a LEFT SEMI join (no row multiplication,
    build side carries only the join key), then count by priority."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    q = orders.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        q.join(returned, q.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy-HAVING over the fact table, then join the
    (small, post-aggregation) qualifying-key set back — the agg result is the
    broadcast side at any SF because HAVING cuts it to a sliver; top-k via
    orderBy+limit pushes a TakeOrderedAndProject, never a full sort."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .where(F.col("total_qty") > 180)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair revenue by ship year.  The
    two nation joins broadcast (25 rows at any SF); the pair filter sits above
    them so Catalyst pushes each leg's IN-list down both dimension scans; the
    fact-side joins shuffle once on their keys."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    return (
        li.where((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1999-01-01"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.  nation
    broadcasts; the agg keys include the (already-joined) customer attributes
    so no second join back is needed."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders.where(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")),
            li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to this schema's columns): per order status,
    count high- vs low-priority lineitems shipped in a year — conditional
    aggregation entirely map-side before one tiny exchange."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("o_orderstatus")
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer x orders LEFT OUTER join -> per-customer
    order count -> histogram.  Two aggs, two exchanges; the outer join keeps
    zero-order customers (count() over a null key = 0)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share in a month.  part broadcasts
    against the date-pruned lineitem scan; numerator/denominator are one
    conditional-agg pass.  Both sides round the two sums to 4dp BEFORE the
    division so the oracle comparison is stable across engines."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.where((F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)), 4).alias("promo"),
            F.round(F.sum(disc), 4).alias("total"),
        )
    )
    return agg.select(
        F.round(100.0 * F.col("promo") / F.col("total"), 4).alias("promo_revenue_pct")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, pick the max-revenue
    supplier(s).  The scalar max comes from a 1-row broadcast cross join of
    the same agg — no driver collect, no second scan of lineitem (the agg
    subtree is reused; AQE dedups the exchange)."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    rev = (
        li.where((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01"))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == F.col("max_revenue"))
        .join(sup, rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs bracket predicate across the part join.
    The common disjuncts (p_size lower bound, quantity floor) let Catalyst
    derive a residual filter below the join on BOTH sides (constraint
    propagation); part broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#7") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 30)))
    )
    return joined.where(bracket).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted): above-average-balance customers with no
    RECENT orders (none since 2000-07-01), counted per nation.  The global
    average is a 1-row broadcast cross join (rounded to 4dp on both sides
    before the comparison); the NOT EXISTS is a LEFT ANTI join whose build
    side is date-pruned at the scan and carries only the key column."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-07-01"
    )
    nation = load(spark, sf_dir, "nation")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (adapted: no p_container column in this schema —
    p_brand carries the part filter): revenue of lineitems whose quantity is
    below 20% of the PART's average quantity — the correlated-scalar-agg
    decorrelation pattern.  Spark-first plan: the correlated subquery becomes
    a per-part partial aggregate joined back; the agg output is keyed by
    p_partkey and post-aggregation tiny, so it broadcasts at any SF while
    lineitem never shuffles twice."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    per_part = (
        li.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


def q20_promo_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp table — availability is derived
    from shipped volume): suppliers whose 1997 shipments of any PROMO part
    exceed 45 units — the nested-IN-over-aggregation pattern.  The inner agg
    collapses to a distinct supplier-key sliver, so the outer filter is a
    LEFT SEMI join with only the key crossing the exchange."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    sup = load(spark, sf_dir, "supplier")
    heavy = (
        li.where((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 45)
        .select("l_suppkey")
    )
    return (
        sup.join(heavy, sup.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q21_lone_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: no receipt/commit dates — l_returnflag='R'
    plays the 'failed delivery' role): suppliers with a returned line on a
    finished multi-supplier order where NO OTHER supplier returned — the
    EXISTS + NOT-EXISTS double-correlated self-join pattern.  Spark-first:
    EXISTS -> LEFT SEMI on (orderkey, supplier!=), NOT EXISTS -> LEFT ANTI on
    the same shape; both carry only join keys through the exchange, and the
    three lineitem legs share one shuffle key (l_orderkey)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    sup = load(spark, sf_dir, "supplier")
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o1"), F.col("l_suppkey").alias("s1"))
        .join(orders.select("o_orderkey"), F.col("o1") == F.col("o_orderkey"), "left_semi")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    exists_other = l1.join(
        l2, (F.col("o1") == F.col("o2")) & (F.col("s1") != F.col("s2")), "left_semi"
    )
    lone = exists_other.join(
        l3, (F.col("o1") == F.col("o3")) & (F.col("s1") != F.col("s3")), "left_anti"
    )
    return (
        lone.join(F.broadcast(sup), F.col("s1") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp — per-(part,supplier) minimum
    shipped unit price plays supply cost): for size-10 parts, the suppliers
    matching the PART-level minimum price — the correlated-min pattern.
    Spark-first: per-(part,supp) agg, then a min-over-part window on the
    (already reduced) agg output instead of a second correlated scan."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_size") == 10)
    sup = load(spark, sf_dir, "supplier")
    per_ps = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("price"))
    )
    w = Window.partitionBy("l_partkey")
    best = (
        per_ps.withColumn("best_price", F.min("price").over(w))
        .where(F.col("price") == F.col("best_price"))
    )
    return (
        best.join(F.broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .select(
            "s_acctbal", "s_name",
            F.col("l_partkey").alias("p_partkey"),
            F.round("price", 4).alias("min_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("s_name").asc(), F.col("p_partkey").asc())
        .limit(10)
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of ASIA-region customer
    order volume per order year — conditional-aggregate-over-star-join.
    region/nation broadcast; the year comes off o_orderdate so the group key
    is computed, not stored."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    n_c = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key"))
    n_s = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == region.r_regionkey, "left_semi")
        .join(F.broadcast(n_s), sup.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
                / F.sum(vol), 4
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no ps_supplycost — cost modeled as
    p_retailprice * quantity / 10): profit per supplier nation per year over
    parts named like '%green%'-style filter (here: p_type = 'STANDARD').
    nation broadcast; part filter pushes to its scan before the fact join."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    sup = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    nation = load(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") / 10.0
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def q11_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp — shipped revenue per part plays
    inventory value): parts whose revenue exceeds 1.5x the mean per-part
    revenue — the HAVING-vs-global-scalar-subquery pattern, with an
    SF-independent threshold (a fixed share would select everything or
    nothing as the part count scales).  The scalar is a 1-row broadcast
    cross join; the per-part agg shuffles once."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.round(F.sum(rev), 4).alias("value"))
    total = li.agg(
        (F.sum(rev) * 1.5 / F.countDistinct("l_partkey")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
        .orderBy(F.col("value").desc(), F.col("p_partkey").asc())
    )


def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: no partsupp — shippers per part family from
    lineitem; the NOT-IN side excludes negative-balance suppliers): distinct
    supplier count per (p_brand, p_type, p_size) — NOT-IN -> LEFT ANTI with
    only keys crossing, then a distinct-count aggregate."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#3")
    bad = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_type").asc(), F.col("p_size").asc(),
        )
        .limit(20)
    )


def a_align_rollup(spark, sf_dir: str) -> DataFrame:
    """Aggregate alignment across unaligned partition grids (cf. "GeoAlign:
    Interpolating Aggregates over Unaligned Partitions", EDBT 2018,
    PAPERS.md): per-45-min event counts re-distributed onto the 60-min grid
    by overlap fraction, assuming uniformity within a source bucket.

    Exact-integer formulation: the interpolated count for destination
    bucket D is sum(count(S) * overlap_seconds(S,D)) / 2700 — we emit the
    NUMERATOR (weighted_num) as a BIGINT, so the result is order-independent
    and cross-engine hashable (the division is presentation, not data).

    Scale: one groupBy onto the source grid (map-side combined), a 2-way
    candidate explode (a 2700 s bucket overlaps at most two 3600 s buckets
    — the candidate set is enumerated, never a range join), one groupBy
    onto the destination grid.  Both grids are time-bounded dims relative
    to the event volume."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    epoch = F.col("ts").cast("timestamp").cast("long")
    src = (
        ev.select(F.floor(epoch / 2700).cast("long").alias("sb"))
        .groupBy("sb")
        .agg(F.count("*").alias("cnt"))
    )
    cand = src.select(
        "sb", "cnt", F.explode(F.array(F.lit(0), F.lit(1))).alias("k")
    ).withColumn("db", (F.expr("(sb * 2700) div 3600") + F.col("k")).cast("long"))
    overlap = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("sb") * 2700 + 2700, F.col("db") * 3600 + 3600)
        - F.greatest(F.col("sb") * 2700, F.col("db") * 3600),
    )
    return (
        cand.withColumn("ov", overlap)
        .where(F.col("ov") > 0)
        .groupBy("db")
        .agg(F.sum(F.col("cnt") * F.col("ov")).cast("long").alias("weighted_num"))
        .select((F.col("db") * 3600).alias("window_start"), "weighted_num")
        .orderBy("window_start")
    )


# --- range/interval join -------------------------------------------------------

RANGE_T0 = "2024-01-01 00:00:00"   # interval grid origin (events table epoch)
RANGE_STRIDE_H = 7                 # interval i starts at t0 + i*stride
RANGE_WIDTH_H = 5                  # interval width (< stride: non-overlapping)
RANGE_BUCKET_H = 3                 # equi-join bucket size (hours)
RANGE_N_INTERVALS = 104            # covers the 30-day synthetic event span


def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every event matched to the maintenance-style
    window containing its timestamp — the second time-join Spark lacks
    natively beside as-of.  Naively this is a BroadcastNestedLoopJoin with
    an O(|events| x |intervals|) range predicate; the scale pattern is the
    BUCKETED interval join: pick a bucket size B, explode each interval to
    the buckets it covers (sequence(floor(start/B), floor((end-1)/B)) — a
    bounded fan-out of width/B + 1 rows), bucket each event ONCE
    (floor(ts/B)), then a pure EQUI join on the bucket plus the exact
    range filter.  Catalyst gets a hash/sort-merge join instead of a
    nested loop, and at 10^12 events the probe side shuffles on an evenly
    distributed integer key.  An event lands in one bucket, so no dedup is
    needed even when intervals span several buckets (intervals here are
    5h wide over 3h buckets — the fan-out genuinely exercises 2-3 buckets
    each).

    Returns the per-interval rollup (interval_id, n_events, min_event_id,
    max_event_id) for intervals that caught >= 1 event; events outside
    every window drop (inner semantics)."""
    events = load(spark, sf_dir, "events")
    b_us = RANGE_BUCKET_H * 3600 * 1_000_000
    stride_us = RANGE_STRIDE_H * 3600 * 1_000_000
    width_us = RANGE_WIDTH_H * 3600 * 1_000_000
    t0 = F.lit(RANGE_T0).cast("timestamp")
    t0_us = F.unix_micros(t0)
    intervals = spark.range(RANGE_N_INTERVALS).select(
        F.col("id").alias("interval_id"),
        (t0_us + F.col("id") * stride_us).alias("start_us"),
        (t0_us + F.col("id") * stride_us + width_us).alias("end_us"),
    )
    ibuckets = intervals.select(
        "interval_id", "start_us", "end_us",
        F.explode(F.sequence(
            F.expr(f"start_us div {b_us}"),
            F.expr(f"(end_us - 1) div {b_us}"),
        )).alias("bucket"),
    )
    ev = events.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn("bucket", F.expr(f"ts_us div {b_us}"))
    matched = (
        ev.join(ibuckets, "bucket")
        .where((F.col("ts_us") >= F.col("start_us"))
               & (F.col("ts_us") < F.col("end_us")))
    )
    return (
        matched.groupBy("interval_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("interval_id")
    )


# --- gap-filled time series + forward fill --------------------------------------

def a_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series with forward-filled values — the
    crawl-telemetry report every operator dashboards (fetch-rate series
    have holes when the fleet stalls; a rollup that silently SKIPS empty
    hours hides exactly the incidents it exists to show): per event_type,
    one row per hour from that type's first to last observation, observed
    hours carry (n_events, their own 4dp mean value), empty hours carry
    n_events = 0 with the last observed mean carried forward and
    is_gap = true.

    Plan: the hour grid is GENERATED per type (sequence over the type's
    own [min, max] hour — no leading-null fill case by construction) and
    exploded; actual hourly aggregates left-join onto it; the forward fill
    is last(ignorenulls) over (type, hour) — a per-type window whose
    partition is bounded by the series length (hours), never the event
    count, so the sort is dim-sized at any corpus scale."""
    events = load(spark, sf_dir, "events")
    hour_s = (F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
              / 1_000_000).cast("long")
    hourly = (
        events.select("event_type", hour_s.alias("h"), "value")
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.round(F.avg("value"), 4).alias("mean_value"))
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select("event_type",
                F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("h"))
    )
    w = (
        Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("hour_start_s"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.last("mean_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("n_events").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "hour_start_s")
    )


PIVOT_LANGS = ("de", "en", "es", "fr")


def q_pivot_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: the source x lang document-count matrix (the corpus-mix grid
    every release report prints) via Spark's relational pivot with an
    EXPLICIT value list — the open-ended form runs a distinct-scan first
    and materializes unbounded columns, which is exactly what a 10^12-row
    plan must not do, so the bounded-list form is the only one this repo
    ships.  One groupBy; the pivot is column-generation, not an extra
    shuffle."""
    docs = load(spark, sf_dir, "documents")
    out = (
        docs.groupBy("source")
        .pivot("lang", list(PIVOT_LANGS))
        .count()
    )
    cols = [F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}")
            for c in PIVOT_LANGS]
    return out.select("source", *cols).orderBy("source")


# --- cohort retention matrix -----------------------------------------------

WEEK_S = 604_800  # epoch-week bucket (7 * 86400)


def w7_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix — the product-analytics staple beside
    the funnel (w5) and sessionize (w4): users are cohorted by their FIRST
    active epoch-week, and each (cohort_week, week_offset) cell counts how
    many of them were active offset weeks later, with retained_bp the
    integer-bp share of the cohort.

    Exact integers end to end: week = epoch-seconds div 604800 (the same
    floor-epoch convention as w4), activity is the distinct (user, week)
    set, retained_bp = (10000 * n_active) div cohort_size.

    Scale: two groupBys keyed by user_id (first-week + distinct activity),
    one join on user_id, one groupBy on the tiny (cohort, offset) key —
    every shuffle is keyed, nothing corpus-ordered; cohort skew (one giant
    signup week) lands in the LAST, smallest aggregation."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # NTZ timestamps refuse a direct SQL CAST to BIGINT — go through the
    # same two-step cast as w4, then integer-div on the long
    epoch = F.col("ts").cast("timestamp").cast("long")
    activity = (
        ev.select("user_id", epoch.alias("es"))
        .selectExpr("user_id", f"CAST(es div {WEEK_S} AS BIGINT) AS week")
        .distinct()
    )
    firsts = activity.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    cells = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    size = cells.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        cells.join(size, "cohort_week")
        .select(
            "cohort_week", "week_offset", "n_active", "cohort_size",
            F.expr("CAST((10000 * n_active) div cohort_size AS BIGINT)")
            .alias("retained_bp"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --- W8: last-touch attribution --------------------------------------------

ATTR_LOOKBACK_S = 3600  # touch must precede the purchase by <= 1 hour
ATTR_TOUCHES = ("click", "signup", "view")  # error is never a touch


def w8_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — the marketing-analytics staple beside the
    funnel (w5) and cohorts (w7): every purchase is credited to the LAST
    qualifying touch (view/click/signup, never error) by the same user
    within a lookback window; purchases with no touch inside it are
    'direct'.

    Dataflow: ONE window over (user_id, ts, event_id) carrying the
    last-seen touch as a struct via last(..., ignorenulls) over rows
    [unbounded, -1] — no self-join, no per-purchase subquery; the
    lookback and direct rules are pure column predicates on the carried
    struct.  Deterministic under ts ties via the event_id tie-break.

    Output: per-purchase (event_id, user_id, touch_type, touch_event_id,
    gap_s) + a value_cents column (exact integer cents) — the rollup is
    the consumer's one groupBy away.

    Scale: one shuffle on user_id (the same partitioning w1/w4 already
    use — co-locating all the w-family on a user-bucketed layout makes
    every one of these a local sort), nothing else."""
    ev = load(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    base = ev.select(
        "event_id", "user_id", "event_type",
        epoch.alias("es"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin(*ATTR_TOUCHES),
        F.struct(
            F.col("es").alias("tes"),
            F.col("event_id").alias("tid"),
            F.col("event_type").alias("tty"),
        ),
    )
    carried = base.withColumn("lt", F.last(touch, ignorenulls=True).over(w))
    in_window = (
        F.col("lt").isNotNull()
        & (F.col("es") - F.col("lt.tes") <= ATTR_LOOKBACK_S)
    )
    return (
        carried.where(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "value_cents",
            F.when(in_window, F.col("lt.tty"))
            .otherwise(F.lit("direct")).alias("touch_type"),
            F.when(in_window, F.col("lt.tid"))
            .otherwise(F.lit(-1)).cast("long").alias("touch_event_id"),
            F.when(in_window, F.col("es") - F.col("lt.tes"))
            .otherwise(F.lit(-1)).cast("long").alias("gap_s"),
        )
        .orderBy("event_id")
    )


BOT_WINDOW_S = 60     # sliding event-time window for the peak-rate probe
BOT_RPM_MIN = 8       # peak events within one window >= this -> bot flag


def w9_bot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bot detection by PEAK request rate — the traffic-quality
    gate crawl analytics runs before sessionize/funnel/attribution trust
    the event stream (bots both pollute product metrics and ARE the
    signal in crawler-traffic studies): for every user, the maximum
    number of events inside any BOT_WINDOW_S-second sliding window, found
    exactly with ONE range-frame window function — count over
    RANGE BETWEEN (BOT_WINDOW_S - 1) PRECEDING AND CURRENT ROW on the
    event-time seconds, maxed per user.  The trailing window ending at
    each event provably contains the per-user maximum of the continuous
    sliding count (any window's count is <= the trailing window anchored
    at its last event), so this is the exact peak, not an approximation
    — and it costs one keyed sort instead of a self-join.

    (user_id, n_events, peak_rate, is_bot): exact BIGINTs.  Scale: one
    shuffle on user_id (the range frame sorts within partitions), one
    algebraic groupBy — no corpus-ordered shuffle, no self-join; heavy
    users are exactly the rows the frame handles longest, and they are
    also the bots, so the skew IS the signal."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    es = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id").orderBy("es")
        .rangeBetween(-(BOT_WINDOW_S - 1), 0)
    )
    rated = (
        ev.select("user_id", es.alias("es"))
        .withColumn("in_win", F.count("*").over(w))
    )
    return (
        rated.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("in_win").cast("long").alias("peak_rate"),
        )
        .withColumn("is_bot", F.col("peak_rate") >= BOT_RPM_MIN)
        .orderBy("user_id")
    )


RANK_PARTS = 64        # range splits for the two-phase global rank


def _two_phase_rank(
    df: DataFrame,
    order_cols: list,
    rank_name: str = "rk",
    cum_col: str | None = None,
    parts: int = RANK_PARTS,
) -> DataFrame:
    """Exact global row_number over a total order WITHOUT the
    single-partition WindowExec a bare ``Window.orderBy`` costs at scale:
    range-shuffle on the order (every partition holds one contiguous
    slice of it), per-partition local row_number, plus broadcast
    per-partition count offsets — the offset window runs over at most
    ``parts`` rows, bounded by the partition count, never the data (the
    quality_tiers bounded-dim doctrine).  The rank is independent of
    where the range boundaries land BECAUSE the order is total: callers
    must include a tiebreak column.  ``cum_col`` additionally threads the
    exact running sum of that column over the same order via the same
    offset trick.  Appends ``rank_name`` (1-based BIGINT) and, when
    requested, ``cum`` (BIGINT)."""
    # persist: the stats branch and the rank branch below must read ONE
    # range shuffle.  Without exchange reuse each branch would plan its own,
    # and each range shuffle samples its own boundaries, so the broadcast
    # offsets would be joined to another split's _pid values.
    d = df.repartitionByRange(parts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()).persist()
    aggs = [F.count("*").alias("_c")]
    if cum_col is not None:
        aggs.append(F.sum(cum_col).alias("_s"))
    stats = d.groupBy("_pid").agg(*aggs)
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offs = [
        "_pid",
        F.coalesce(F.sum("_c").over(off_w), F.lit(0)).alias("_roff"),
    ]
    if cum_col is not None:
        offs.append(
            F.coalesce(F.sum("_s").over(off_w), F.lit(0)).alias("_soff"))
    stats = stats.select(*offs)
    loc_w = Window.partitionBy("_pid").orderBy(*order_cols)
    d = d.withColumn("_lrk", F.row_number().over(loc_w))
    if cum_col is not None:
        d = d.withColumn(
            "_lcum",
            F.sum(cum_col).over(
                loc_w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    out = d.join(F.broadcast(stats), "_pid").withColumn(
        rank_name, (F.col("_roff") + F.col("_lrk")).cast("long"))
    drop = ["_pid", "_lrk", "_roff"]
    if cum_col is not None:
        out = out.withColumn(
            "cum", (F.col("_soff") + F.col("_lcum")).cast("long"))
        drop += ["_soff", "_lcum"]
    return out.drop(*drop)


def _ntile_from_rank(rank_col: str, n_col: str, tiers: int):
    """Standard SQL ntile(tiers) recomputed from an exact global rank and
    the total row count: the first (N mod tiers) tiles take ceil(N/tiers)
    rows, the rest floor(N/tiers) — the identical bucket rule Spark and
    DuckDB implement, as pure nonnegative BIGINT arithmetic (div == floor
    there), so replacing the ntile window with this expression cannot
    move a single row's tile."""
    q = f"({n_col} div {tiers})"
    r = f"({n_col} % {tiers})"
    head = f"{r} * ({q} + 1)"
    return F.expr(
        f"CASE WHEN {rank_col} <= {head} "
        f"THEN ({rank_col} - 1) div ({q} + 1) + 1 "
        f"ELSE {r} + 1 + ({rank_col} - 1 - {head}) div {q} END"
    ).cast("long")


RFM_TIERS = 4          # quartile tiers per dimension
RFM_ASOF_S = 1706745600  # 2024-02-01T00:00:00Z: fixed as-of for recency


def w10_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM segmentation (Recency / Frequency / Monetary, the
    direct-marketing classic — Hughes 1994 — that every behavioral
    cohort tool still ships): recency = seconds from the user's LAST
    purchase to a FIXED as-of instant (a deterministic constant, never
    now()), frequency = purchase count, monetary = lifetime cents; each
    dimension quartiled with ntile(RFM_TIERS) and composed into the
    3-digit segment (111 = best by convention, so recency tiles
    ASCENDING on recency-seconds — most recent first — while F and M
    tile DESCENDING).

    Exactness: ntile is deterministic once its ORDER BY is a total order
    — every tile orders by (metric, user_id), so equal metrics split by
    user_id identically in both engines (the documented tie rule; a
    bare metric order would let engines disagree inside tied runs).

    Scale: one groupBy on user_id, then each dimension's quartile comes
    from the _two_phase_rank range-partitioned exact rank plus the
    _ntile_from_rank closed form — NO single-partition ntile window
    anywhere (the naive form moves the whole user dim, 10^8-10^9 rows
    at corpus scale, through one sort task per dimension; here each
    dimension costs one range shuffle of the user dim with `parts`-way
    parallel local sorts).  Bucket arithmetic is byte-identical to both
    engines' ntile, so the oracle keeps the plain ntile SQL."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    es = F.col("ts").cast("timestamp").cast("long")
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id", es.alias("es"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            (F.lit(RFM_ASOF_S) - F.max("es")).cast("long")
            .alias("recency_s"),
            F.count("*").cast("long").alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
    )
    n_users = per_user.groupBy().agg(
        F.count("*").cast("long").alias("_n"))
    ranked = per_user.crossJoin(F.broadcast(n_users))
    for rank_name, order in (
        ("_r_rk", [F.col("recency_s").asc(), F.col("user_id").asc()]),
        ("_f_rk", [F.col("frequency").desc(), F.col("user_id").asc()]),
        ("_m_rk", [F.col("monetary_cents").desc(),
                   F.col("user_id").asc()]),
    ):
        ranked = _two_phase_rank(ranked, order, rank_name=rank_name)
    return (
        ranked
        .withColumn("r_tier", _ntile_from_rank("_r_rk", "_n", RFM_TIERS))
        .withColumn("f_tier", _ntile_from_rank("_f_rk", "_n", RFM_TIERS))
        .withColumn("m_tier", _ntile_from_rank("_m_rk", "_n", RFM_TIERS))
        .drop("_r_rk", "_f_rk", "_m_rk", "_n")
        .withColumn(
            "segment",
            (F.col("r_tier") * 100 + F.col("f_tier") * 10
             + F.col("m_tier")).cast("long"),
        )
        .orderBy("user_id")
    )


DAY_S = 86400


def w11_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-week DAU/WAU stickiness — the engagement ratio product
    analytics tracks beside retention (w7): for each epoch week, the
    average daily-active count over its 7 days against the weekly-active
    count, in exact integer bp: stickiness_bp = 10000 * sum(DAU) div
    (7 * WAU).  A corpus of one-visit drive-by users scores ~1429bp
    (1/7); a daily-habit product scores toward 10000.

    Exactness: day = es div 86400, week = es div 604800 (the w7 floor
    conventions — NB the epoch week boundary, not ISO); both distinct
    sets are exact.  Scale: two distinct aggregations keyed by (period,
    user), then a 7-row-per-week rollup — the same shuffle family as
    w7, nothing corpus-ordered."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    es = F.col("ts").cast("timestamp").cast("long")
    base = ev.select("user_id", es.alias("es"))
    days = (
        base.selectExpr(
            "user_id",
            f"CAST(es div {DAY_S} AS BIGINT) AS day",
            f"CAST(es div {WEEK_S} AS BIGINT) AS week",
        )
        .distinct()
    )
    dau = days.groupBy("week", "day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    wau = (
        base.selectExpr(
            "user_id", f"CAST(es div {WEEK_S} AS BIGINT) AS week"
        )
        .distinct()
        .groupBy("week")
        .agg(F.count("*").cast("long").alias("wau"))
    )
    return (
        dau.groupBy("week")
        .agg(
            F.sum("dau").cast("long").alias("sum_dau"),
            F.count("*").cast("long").alias("n_active_days"),
        )
        .join(wau, "week")
        .select(
            "week", "sum_dau", "n_active_days", "wau",
            F.expr("10000 * sum_dau div (7 * wau)").cast("long")
            .alias("stickiness_bp"),
        )
        .orderBy("week")
    )


CONC_TOP_BP = (100, 1000, 2500)   # top 1%, 10%, 25% of users


def w12_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(top_bp, n_top_users, share_bp) — how concentrated activity is:
    for each top-k% slice of users (ranked by event count desc, user_id
    asc), the share of ALL events they generate, exact integer bp — the
    Pareto curve behind 'bots and power users dominate traffic', and the
    user-side twin of q11's supplier revenue concentration.  Slice size
    is ceil(bp * n_users / 10000), so the top slice is never empty.

    Scale: one keyed groupBy to the user dim, then the rank AND the
    running sum both come from ONE _two_phase_rank pass (range shuffle +
    broadcast per-partition offsets) — no single-partition row_number/
    running-sum window over the user dim (the naive form funnels
    10^8-10^9 users through one sort task at corpus scale); the 3-row
    grid join is unchanged."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"))
    ranked = _two_phase_rank(
        per_user,
        [F.col("n_events").desc(), F.col("user_id").asc()],
        rank_name="rk",
        cum_col="n_events",
    )
    totals = ranked.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("t_events"),
    )
    grid = ranked.sparkSession.createDataFrame(
        [(bp,) for bp in CONC_TOP_BP], "top_bp long")
    j = ranked.crossJoin(F.broadcast(totals)).join(
        F.broadcast(grid),
        F.col("rk") == F.expr(
            "CAST((top_bp * n_users + 9999) div 10000 AS BIGINT)"),
    )
    return j.select(
        "top_bp",
        F.col("rk").cast("long").alias("n_top_users"),
        F.expr("10000 * cum div t_events").cast("long").alias("share_bp"),
    ).orderBy("top_bp")


def w13_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket, n_gaps) — the per-type think-time histogram:
    per user, consecutive same-type event gaps in seconds, bucketed by
    floor-log2 (bucket = number of doublings; 0 covers gaps of 0-1 s) —
    the distribution whose LOW end is a bot signature (humans do not
    click twice in the same second for hours) and whose shape feeds
    session-gap calibration (w4's 1800 s threshold is readable straight
    off this histogram's valley).

    Exact integers: gap = es - lag(es), log2 via the BIGINT bit length
    (63 - number of leading zeros computed by comparison folds is
    overkill here — gaps are bounded by the crawl window, so a bounded
    power comparison chain suffices and stays engine-identical).
    Scale: one lag window keyed by (user, type) — the same shuffle w4
    pays — then a map-side-combined groupBy on the tiny (type, bucket)
    dim; zero-filled nowhere (an absent bucket IS the signal)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    es = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "es", "event_id")
    gaps = (
        ev.select("user_id", "event_type", "event_id", es.alias("es"))
        .withColumn("gap", F.col("es") - F.lag("es").over(w))
        .where(F.col("gap").isNotNull())
    )
    # floor-log2 of (gap + 1) via a bounded comparison chain: bucket =
    # count of powers 2^k <= gap+1 for k in 1..40, identical in SQL
    bucket = sum(
        (F.col("gap") + 1 >= F.lit(2 ** k)).cast("long")
        for k in range(1, 41)
    )
    return (
        gaps.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n_gaps"))
        .orderBy("event_type", "bucket")
    )


def w14_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(week, n_active, n_new, n_retained, n_resurrected, n_churned) —
    growth accounting, the WAU decomposition every product/crawl
    dashboard reconciles against (the "growth accounting identity":
    active(w) = retained(w) + new(w) + resurrected(w), and
    active(w-1) = retained(w) + churned(w)): per epoch week, actives
    split by whether this is their FIRST week (new), they were active
    the adjacent previous week (retained), or they returned after a gap
    (resurrected); churned(w) is the w-1 actives who sat out w.

    Weeks are emitted DENSELY from min to max (a zero-activity gap week
    shows n_active 0 and churns the whole prior week's actives) so both
    identities hold at every row — the property that makes this table
    self-auditing and the reason a sparse weeks-present-only version is
    the wrong shape.

    Exactness: week = es div WEEK_S on nonnegative seconds (div ==
    floor); churned derives arithmetically as lag(n_active) - n_retained
    — no second join against the previous week's user set.  Scale: one
    distinct on (user, week) (same shuffle family as w7/w11), one lag
    window keyed BY USER, one map-side-combined groupBy to the week dim;
    the only unpartitioned window is the churn lag over the DENSE WEEK
    dim — bounded by the calendar (52 rows/year at any corpus size), the
    quality_tiers bounded-dim doctrine."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    es = F.col("ts").cast("timestamp").cast("long")
    uw = (
        ev.select("user_id", es.alias("es"))
        .selectExpr(
            "user_id", f"CAST(es div {WEEK_S} AS BIGINT) AS week")
        .distinct()
    )
    u_w = Window.partitionBy("user_id").orderBy("week")
    flags = (
        uw.withColumn("first_week", F.min("week").over(
            u_w.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)))
        .withColumn("prev_week", F.lag("week").over(u_w))
        .select(
            "week",
            (F.col("week") == F.col("first_week")).cast("long")
            .alias("is_new"),
            (F.col("prev_week") == F.col("week") - 1).cast("long")
            .alias("is_retained"),
        )
        .fillna(0, ["is_retained"])
        .withColumn(
            "is_resurrected",
            (1 - F.col("is_new")) * (1 - F.col("is_retained")),
        )
    )
    agg = flags.groupBy("week").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum("is_retained").cast("long").alias("n_retained"),
        F.sum("is_resurrected").cast("long").alias("n_resurrected"),
    )
    weeks = uw.agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    ).select(F.explode(F.sequence("w0", "w1")).alias("week"))
    dense = (
        weeks.join(agg, "week", "left")
        .fillna(0, ["n_active", "n_new", "n_retained", "n_resurrected"])
    )
    churn_w = Window.orderBy("week")  # dense week dim: calendar-bounded
    return (
        dense.withColumn(
            "n_churned",
            (F.coalesce(F.lag("n_active").over(churn_w), F.lit(0))
             - F.col("n_retained")).cast("long"),
        )
        .select("week", "n_active", "n_new", "n_retained",
                "n_resurrected", "n_churned")
        .orderBy("week")
    )


def w15_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_users, t_events, gini_bp) — the Gini coefficient of per-user
    event counts, the single-number inequality summary behind w12's
    Pareto curve (0 = everyone equally active, ->10000 = one user is the
    whole crawl; THE standard skew headline for traffic/bot reports).

    Exact integers end to end: with counts ranked ASCENDING by
    (n_events, user_id) — a total order, rank i in 1..n — the classic
    rank-weighted form G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    becomes ONE floor division of nonnegative BIGINTs:
    gini_bp = (10000 * (2*sum(i*x_i) - (n+1)*T)) div (n*T) — the
    numerator is provably >= 0 for ascending ranks, so div == floor and
    both engines agree bit-for-bit.

    Scale: the rank is _two_phase_rank's range-partitioned exact rank
    over the user dim (the w10/w12 machinery reused — NO
    single-partition window anywhere), then one algebraic aggregate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"))
    ranked = _two_phase_rank(
        per_user,
        [F.col("n_events").asc(), F.col("user_id").asc()],
        rank_name="rk",
    )
    return (
        ranked.agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("t_events"),
            F.sum(F.col("rk") * F.col("n_events")).cast("long")
            .alias("_rx"),
        )
        .select(
            "n_users", "t_events",
            F.expr(
                "CAST((10000 * (2 * _rx - (n_users + 1) * t_events))"
                " div (n_users * t_events) AS BIGINT)"
            ).alias("gini_bp"),
        )
    )
