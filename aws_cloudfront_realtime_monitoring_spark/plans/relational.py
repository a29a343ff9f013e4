"""Tier-C relational operator coverage (SURVEY.md section 2, Tier C): the
standard OLAP surface the reference delegates to Timestream's hosted engine.
Each query exercises one operator family as a first-class, oracle-checked
capability, expressed declaratively so Catalyst picks the physical strategy.

Scale notes are attached per query: which side broadcasts, where the
shuffles are, and why the plan survives a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import register
from .core import dsum, dsum_sql, money, session_cte_sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_PRICE = "CAST(l_extendedprice AS DECIMAL(14,2))"
_DISC = "(1 - CAST(l_discount AS DECIMAL(4,2)))"
_TAX = "(1 + CAST(l_tax AS DECIMAL(4,2)))"


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
           CAST(SUM({_PRICE} * {_DISC}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_PRICE} * {_DISC} * {_TAX}) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1-style pricing summary: multi-aggregate hash "
                "aggregation with filter pushdown. Partial (map-side) agg "
                "makes the shuffle carry only |groups| rows per partition.",
    tags=("aggregate",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # decimal end-to-end: double->decimal once per column, exact products
    disc_price = money("l_extendedprice") * (1 - money("l_discount", 4, 2))
    charge = disc_price * (1 + money("l_tax", 4, 2))
    return (
        li.where(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_region",
    oracle=f"""
    SELECT r.r_name AS region,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    description="4-way star join: fact lineitem joined through orders to "
                "broadcast dimensions. lineitem pre-aggregates per orderkey "
                "before the fact-fact join, so the shuffle carries one row "
                "per order instead of one per line item (~4x less at TPC-H "
                "shape); customer/nation/region broadcast (small dims). "
                "Decimal partial sums are exact, so the rewrite is "
                "bit-identical to joining raw line items. AQE handles skew.",
    tags=("join", "broadcast"),
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # dims are broadcast explicitly: at 100 TB the fact side never shuffles
    # for them; only lineitem-orders co-partitions on orderkey.
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    # push the aggregation below the join: revenue is additive per order,
    # so summing per l_orderkey first (map-side partial agg) shrinks the
    # orderkey shuffle from |lineitem| to |orders| rows.
    li_agg = li.groupBy("l_orderkey").agg(
        F.sum(money("l_extendedprice") * (1 - money("l_discount", 4, 2)))
        .alias("order_rev"),
        F.count("*").alias("order_items"),
    )
    return (
        li_agg.join(orders, li_agg.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum("order_rev").cast("double").alias("revenue"),
            F.sum("order_items").alias("n_items"),
        )
    )


@register(
    "top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_sql('o.o_totalprice', 2)} AS total_spent,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spent DESC, c.c_custkey
    LIMIT 10
    """,
    description="Top-K: aggregate then global top-10 with deterministic "
                "tiebreak. Spark executes as TakeOrderedAndProject -- no "
                "full sort, each partition keeps only K rows.",
    tags=("topk", "join"),
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum(F.col("o_totalprice"), 2).alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "semi_anti_membership",
    oracle="""
    SELECT 'with_open' AS cohort, c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'without_any' AS cohort, c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    description="Left-semi (EXISTS) and left-anti (NOT EXISTS) joins in one "
                "tagged result. Semi/anti joins keep the build side "
                "de-duplicated -- the shuffle carries distinct keys only.",
    tags=("join", "semi", "anti"),
    driver_slot=False,  # r6 demotion: semi/anti coverage also driver-checked via subquery_shapes (IN/EXISTS rewrite to the same joins)
)
def semi_anti_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    open_orders = orders.where(F.col("o_orderstatus") == "O")
    semi = (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .select(F.lit("with_open").alias("cohort"), "c_mktsegment", "n_customers")
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .select(F.lit("without_any").alias("cohort"), "c_mktsegment", "n_customers")
    )
    return semi.unionAll(anti)


@register(
    "sessionize",
    oracle=f"""
    WITH {session_cte_sql(keep="user_id", sid="session_id")}
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
    description="Sessionization: gap>30min starts a new session; lag + "
                "running sum window idiom. Single shuffle on user_id reused "
                "by both windows (same partitioning).",
    tags=("window", "session"),
    driver_slot=False,  # r6 demotion: lag+cumsum mechanics are the oracle of session_window_agg AND stream_session_equiv
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts rows carry no session information and the shared oracle CTE
    # (core.session_cte_sql) drops them -- matching Spark's native
    # session_window, which ignores null timestamps. Without this filter
    # the lag variant alone kept them (sorted NULLS FIRST, counted as a
    # phantom first session per user) while every sibling dropped them
    # (r13 review).
    events = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    sessions = events.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id").agg(
        F.count_distinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "distinct_aggregates",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Multi-column distinct aggregation (expand + two-phase agg).",
    tags=("aggregate", "distinct"),
)
def distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


#: HLL++ relative standard deviation; the in-query contract asserts the
#: estimate lands within 5*rsd of the exact count (HLL++ bias-corrected
#: error is well inside 3*rsd with overwhelming probability; 5*rsd keeps
#: the gate deterministic-in-practice at every SF).
APPROX_RSD = 0.02


@register(
    "approx_distinct_ips",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS exact_users,
           CAST(1 AS BIGINT) AS within_bound
    FROM events GROUP BY event_type
    """,
    description="approx_count_distinct (HyperLogLog++) per event_type -- the "
                "scale path for distinct counting: mergeable sketch, no "
                "expand, constant memory. A sketch estimate cannot "
                "hash-match an oracle, so the query carries its own "
                "verification contract: it emits the exact distinct count "
                "alongside an in-query `within_bound` boolean "
                "(|approx - exact| <= 5*rsd*exact); the oracle computes the "
                "exact side and expects the bound to hold (within_bound=1), "
                "turning the sketch into a hash-checkable row.",
    tags=("aggregate", "approx"),
)
def approx_distinct_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=APPROX_RSD).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count("*").alias("n"),
    )
    bound = F.lit(5 * APPROX_RSD) * F.col("exact_users")
    return agg.select(
        "event_type",
        "n",
        "exact_users",
        F.when(
            F.abs(F.col("approx_users") - F.col("exact_users")) <= bound, 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("within_bound"),
    )


@register(
    "set_operations",
    oracle="""
    WITH early AS (SELECT o_custkey FROM orders
                   WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
         late  AS (SELECT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    SELECT 'both' AS cohort, COUNT(*) AS n FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late)
    UNION ALL
    SELECT 'early_only' AS cohort, COUNT(*) AS n FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late)
    UNION ALL
    SELECT 'all' AS cohort, COUNT(*) AS n FROM (SELECT o_custkey FROM early UNION SELECT o_custkey FROM late)
    """,
    description="Set operations: INTERSECT / EXCEPT / UNION-distinct over "
                "customer cohorts. Each is a distinct-style hash aggregation.",
    tags=("setops",),
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    early = orders.where(F.col("o_orderdate") < "1997-01-01").select("o_custkey")
    late = orders.where(F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    rows = [
        early.intersect(late).agg(F.lit("both").alias("cohort"), F.count("*").alias("n")),
        # subtract == EXCEPT DISTINCT (set semantics, matching the SQL oracle;
        # exceptAll would keep multiplicity differences)
        early.subtract(late).agg(F.lit("early_only").alias("cohort"), F.count("*").alias("n")),
        early.union(late).distinct().agg(F.lit("all").alias("cohort"), F.count("*").alias("n")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


#: the GROUPING SETS arm, written ONCE: this exact statement is both the
#: oracle's third UNION ALL arm and the spark.sql() the builder runs (the
#: fragment is valid in both dialects; r13 review -- it had grown into two
#: character-for-character copies, the silent-fork hazard the h60/session
#: CTE consolidations exist to prevent)
_GSETS_SQL = f"""
    SELECT 'gsets' AS variant, c_mktsegment AS k1, o_orderstatus AS k2,
           COUNT(*) AS n, {dsum_sql('o_totalprice', 2)} AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())"""


@register(
    "grouping_analytics",
    oracle=f"""
    SELECT 'rollup' AS variant, o_orderpriority AS k1, o_orderstatus AS k2,
           COUNT(*) AS n, {dsum_sql('o_totalprice', 2)} AS total
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    UNION ALL
    SELECT 'cube' AS variant, l_returnflag AS k1, l_linestatus AS k2,
           COUNT(*) AS n, {dsum_sql('l_quantity', 2)} AS total
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    UNION ALL
    {_GSETS_SQL}
    """,
    description="Multi-dimensional grouping family in one tagged result: "
                "ROLLUP hierarchy (priority -> status -> grand total) on "
                "orders, CUBE (all 4 sets) on lineitem, and explicit "
                "GROUPING SETS over a join via the SQL API. Each is a "
                "grouping-sets expansion inside a single hash aggregate.",
    tags=("aggregate", "rollup", "cube", "grouping-sets", "sql-api"),
)
def grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rollup = (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"), dsum(F.col("o_totalprice"), 2).alias("total"))
        .select(
            F.lit("rollup").alias("variant"),
            F.col("o_orderpriority").alias("k1"),
            F.col("o_orderstatus").alias("k2"),
            "n", "total",
        )
    )
    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum(F.col("l_quantity"), 2).alias("total"))
        .select(
            F.lit("cube").alias("variant"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "n", "total",
        )
    )
    register_views(spark, sf_dir)
    gsets = spark.sql(_GSETS_SQL)  # the ONE spelling (shared with the oracle)
    return rollup.unionAll(cube).unionAll(gsets)


@register(
    "scalar_functions",
    oracle="""
    SELECT upper(event_type) AS event_type_uc,
           CAST(year(ts) AS BIGINT) AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(length(props)) AS min_len,
           MAX(substr(event_type, 1, 2)) AS max_prefix,
           MIN(date_trunc('week', ts)) AS first_week,
           COUNT(DISTINCT month(ts)) AS n_months
    FROM events
    GROUP BY upper(event_type), year(ts)
    """,
    description="Scalar function families in one pass: string (upper, "
                "substr, length), JSON (one from_json parse per row -- "
                "cheaper than per-field JSON-path at scale), and temporal "
                "(year/month extraction, date_trunc week). All JVM-side "
                "codegen, no UDF. DEMOTED r15 (registry swap): its "
                "driver slot went to pixel_decode_real_stats (decode "
                "OUTPUT under the hash discipline); this row stays "
                "hash-checked via load_demoted().",
    tags=("functions", "json", "date"),
    driver_slot=False,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn("props_s", F.from_json("props", "k BIGINT"))
        .groupBy(
            F.upper("event_type").alias("event_type_uc"),
            F.year("ts").cast("bigint").alias("yr"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("props_s.k")).alias("sum_k"),
            F.min(F.length("props")).cast("bigint").alias("min_len"),
            F.max(F.substring("event_type", 1, 2)).alias("max_prefix"),
            F.min(F.date_trunc("week", F.col("ts"))).alias("first_week"),
            F.count_distinct(F.month("ts")).alias("n_months"),
        )
    )


@register(
    "asof_join_latest_order",
    oracle="""
    SELECT e.event_id, MAX(o.o_orderdate) AS latest_orderdate
    FROM events e
    JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id
    """,
    description="As-of join: latest order at-or-before each event per user. "
                "Implemented with the union+window pattern (sort within "
                "user_id partition, last_value ignorenulls) -- one shuffle, "
                "no per-key scans; scales linearly where a naive "
                "inequality join is quadratic.",
    tags=("join", "asof"),
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    # union both streams tagged by kind; within each user, a running
    # last_value(orderdate ignorenulls) ordered by time gives the as-of match.
    left = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("timestamp").alias("o_date"),
    )
    right = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("o_date"),
    )
    # orders sort before events at identical t (is_event asc) => "<=" semantics
    w = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    merged = left.unionByName(right).withColumn(
        "latest_orderdate", F.last("o_date", ignorenulls=True).over(w)
    )
    return (
        merged.where((F.col("is_event") == 1) & F.col("latest_orderdate").isNotNull())
        .select("event_id", "latest_orderdate")
    )


@register(
    "range_join_bucketized",
    oracle="""
    SELECT o.o_orderkey, COUNT(*) AS n_shipped_7d
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    GROUP BY o.o_orderkey
    """,
    description="Range join (shipdate within 7 days of order date) as "
                "equi-join on the key plus range filter -- Catalyst keeps "
                "the equi-part hashable so no nested-loop join appears.",
    tags=("join", "range"),
)
def range_join_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            # + INTERVAL preserves time-of-day; date_add would truncate
            # the TIMESTAMP to midnight and diverge from the oracle on any
            # non-midnight orderdate (r7 review; fixtures are midnight
            # today, so this is latent, not live)
            & (F.col("l_shipdate")
               < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipped_7d"))
    )


@register(
    "pivot_status_by_priority",
    oracle=f"""
    SELECT o_orderpriority,
           {dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2)} AS open_total,
           {dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)} AS finished_total,
           {dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", 2)} AS partial_total
    FROM orders GROUP BY o_orderpriority
    """,
    description="Pivot (narrow->wide conditional aggregation) -- the same "
                "CASE WHEN un-pivot shape as the reference's Q1 (B4). "
                "Demoted r10 (slot to skew_salted_join): B4's conditional-"
                "aggregate coverage is also held by strict_compat_narrow "
                "and q1_narrow_form under driver rows; the identical "
                "Spark-vs-DuckDB hash check keeps running in the pytest "
                "suite (driver_slot=False).",
    tags=("aggregate", "pivot"),
    driver_slot=False,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def cond_sum(status: str, alias: str):
        return dsum(
            F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")), 2
        ).alias(alias)

    return orders.groupBy("o_orderpriority").agg(
        cond_sum("O", "open_total"),
        cond_sum("F", "finished_total"),
        cond_sum("P", "partial_total"),
    )
