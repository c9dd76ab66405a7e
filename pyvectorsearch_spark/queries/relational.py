"""Relational operator coverage with DuckDB oracles.

The reference has no relational layer (SURVEY.md §2.4: projections/filters only
implicit, aggregations limited to counters, windows/sorts/set-ops absent) — the
engine provides the full surface via Spark DataFrame plans; this module is the
category-by-category evidence, TPC-H-flavored over the driver tables.

Conventions for oracle parity: every computed column aliased identically on
both sides; money sums rounded to 2 dp, ratios/avgs to 6 dp; orderings always
carry an id tiebreaker; window frames stated explicitly (Spark's default frame
for an ordered window is RANGE, which differs from ROWS under ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyvectorsearch_spark.plans.inspect import plan_bytes_below
from pyvectorsearch_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --- aggregations -----------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: big scan → groupBy two low-cardinality keys → 8 aggs.
    Partial aggregation (map-side combine) keeps the shuffle tiny at scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: selective filter → single agg. All three predicates
    push down to the parquet scan (verified in tests via the explain plan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


# --- joins ------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → top-10. customer is broadcast
    (small dim); lineitem⋈orders co-shuffles on the order key."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, dims broadcast, revenue per nation."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


ORACLE_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS) + aggregation: customers with no orders, by
    segment. left_anti avoids materializing the non-matching side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- windows ----------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window — the same pattern the kNN join
    uses; k=3 most expensive orders per customer, limited to a key range so
    the output stays oracle-sized."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


ORACLE_TOPK_ORDERS = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, CAST(rn AS INT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey < 100
) WHERE rn <= 3
"""


def events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user sum over event time — explicit ROWS frame (Spark's
    default ordered-window frame is RANGE, which merges timestamp ties)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
    )


ORACLE_RUNNING = """
SELECT user_id, event_id, ts,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       AS running_value
FROM events WHERE user_id < 20
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag(ts) → new-session flag on gap > 30 min → cumulative
    session index → per-session rollup. One shuffle on user_id; both windows
    reuse the same partitioning."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = e.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_idx", F.sum("is_new").over(wsum))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id < 50
), sess AS (
  SELECT user_id, ts, value,
         -- DuckDB sum(int) is HUGEINT -> pandas float64; Spark emits bigint.
         -- Cast so the emitted session_idx matches Spark's integer dtype.
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts) AS session_start, round(sum(value), 6) AS session_value
FROM sess GROUP BY user_id, session_idx
"""


# --- grouping sets / pivot --------------------------------------------------

def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): subtotal + grand-total rows."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns (explicit value list → no extra pass
    to discover categories; at scale an implicit pivot is two jobs)."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return p.select(
        "o_orderpriority",
        F.col("O").alias("n_open"),
        F.col("F").alias("n_filled"),
        F.col("P").alias("n_partial"),
    ).orderBy("o_orderpriority")


ORACLE_PIVOT = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- set operations ---------------------------------------------------------

def customer_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: nations having customers vs suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("op", F.lit("both"))
    cust_only = c.distinct().exceptAll(s.distinct()).withColumn("op", F.lit("customer_only"))
    return both.unionByName(cust_only).select("op", "nationkey").orderBy("op", "nationkey")


ORACLE_SET_OPS = """
SELECT 'both' AS op, nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'customer_only' AS op, nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier
)
ORDER BY op, nationkey
"""


# --- scalar string/date functions ------------------------------------------

def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: substring/upper/length/LIKE/concat inside a
    grouped plan."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").like("%PROMO%") | F.col("p_type").like("%ECONOMY%"))
        .withColumn("brand_num", F.substring("p_name", 1, 4))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
            F.max(F.upper("p_type")).alias("max_type_upper"),
            F.round(F.avg(F.length("p_name")), 6).alias("avg_name_len"),
        )
        .orderBy("p_brand")
    )


ORACLE_BRAND = """
SELECT p_brand, count(*) AS n_parts,
       round(avg(p_retailprice), 6) AS avg_price,
       max(upper(p_type)) AS max_type_upper,
       round(avg(length(p_name)), 6) AS avg_name_len
FROM part
WHERE p_type LIKE '%PROMO%' OR p_type LIKE '%ECONOMY%'
GROUP BY p_brand ORDER BY p_brand
"""


def order_date_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar functions: year/quarter/month extraction + grouped aggs."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("yr", F.year("o_orderdate").cast("int"))
        .withColumn("qtr", F.quarter("o_orderdate").cast("int"))
        .groupBy("yr", "qtr")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("yr", "qtr")
    )


ORACLE_DATES = """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1, 2 ORDER BY yr, qtr
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (batch form of the streaming windowed agg):
    date_trunc to the hour × event_type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .filter(F.col("hour") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
        .orderBy("hour", "event_type")
    )


ORACLE_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events
WHERE date_trunc('hour', ts) < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1, 2 ORDER BY hour, event_type
"""


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column functions: extract ``props.k`` (a JSON int), bucket it,
    aggregate — covers the json/map category (absent in the reference,
    SURVEY.md §2.4)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("k_mod")
    )


ORACLE_PROPS_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
       count(*) AS n,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1 ORDER BY k_mod
"""


QUANTILE_BUCKETS = 4096


def _join_null_safe(
    left: DataFrame, right: DataFrame, on: list[str], how: str = "inner"
) -> DataFrame:
    """``left.join(right, on, how)`` on ``<=>`` keys, so a NULL key matches
    a NULL key the way ``groupBy`` keeps NULLs as one group. The keys come
    out once, from ``left``."""
    r = right.select(*[F.col(c).alias(f"_r{c}") if c in on else c for c in right.columns])
    cond = [F.col(c).eqNullSafe(F.col(f"_r{c}")) for c in on]
    return left.join(r, cond, how).drop(*[f"_r{c}" for c in on])


def _exact_group_quantiles(
    df: DataFrame, group_col: str, value_col: str, probs: list[float]
) -> DataFrame:
    """DISTRIBUTED exact interpolated quantiles per group — value-identical
    to ``F.percentile(value_col, probs)`` (r11 optimization round, VERDICT
    r10 ask #6).

    ``percentile`` is an ObjectHashAggregate that concentrates every value
    of a group in ONE final buffer — the documented 100 TB memory hazard
    (guide §5). This form never holds a group anywhere. A deterministic
    MONOTONIC bucket key ``_b = width_bucket(v, min_g, max_g, B)`` (per-group
    bounds from one cheap aggregate; floor of an affine map is weakly
    monotonic in IEEE doubles, and equal values always share a bucket, so
    bucket-local ranks compose into exact global ranks) replaces physical
    range partitioning — no RangePartitioner sample job, no checkpoint, no
    full-row shuffle. Three column-pruned passes:

    1. per-group n / min / max (hash aggregate, tiny collect);
    2. per-(group, bucket) counts (hash aggregate, ≤ groups × B rows
       collected) → the driver turns cumulative bucket counts into the ≤ 2
       target buckets + bucket-local ranks each quantile needs;
    3. rows of the TARGET BUCKETS ONLY (a map-side filter — nothing else
       reaches the exchange) → per-bucket distinct-value counts → one small
       window per (group, bucket) → the two order statistics per quantile.

    Interpolation reproduces ``Percentile.getPercentile`` exactly:
    ``(ceil(pos)-pos)·v_lo + (pos-floor(pos))·v_hi`` with ``pos = p·(n-1)``
    computed in the same IEEE doubles (≤ 2 terms per sum — IEEE addition of
    two terms is order-exact).

    Returns one row per group: (group_col, _q0.._qK) raw (un-rounded)
    quantile values. Groups whose values are all null are absent (as with
    ``percentile``, which ignores nulls)."""
    import math

    from pyspark.sql import Window

    spark = df.sparkSession
    B = QUANTILE_BUCKETS
    vals = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    bounds = {
        r["_g"]: (int(r["_n"]), float(r["_lo"]), float(r["_hi"]))
        for r in vals.groupBy("_g")
        .agg(
            F.count("*").alias("_n"),
            F.min("_v").alias("_lo"),
            F.max("_v").alias("_hi"),
        )
        .collect()
    }
    if not bounds:
        g_type = dict(df.dtypes)[group_col]
        qcols = ", ".join(f"_q{qi} double" for qi in range(len(probs)))
        return spark.createDataFrame([], f"{group_col} {g_type}, {qcols}")
    g_type = dict(df.dtypes)[group_col]
    bnd_df = spark.createDataFrame(
        [(g, lo, hi) for g, (_, lo, hi) in bounds.items()],
        f"_g {g_type}, _lo double, _hi double",
    )

    def bucket_expr():
        # degenerate all-equal groups (lo == hi) collapse to bucket 1
        return F.when(
            F.col("_lo") < F.col("_hi"),
            F.width_bucket("_v", "_lo", "_hi", F.lit(B)),
        ).otherwise(F.lit(1)).cast("int")

    keyed = _join_null_safe(vals, F.broadcast(bnd_df), ["_g"]).withColumn(
        "_b", bucket_expr()
    )
    bc = (
        keyed.groupBy("_g", "_b").agg(F.count("*").alias("_c")).collect()
    )
    per_group: dict = {}
    for r in bc:
        per_group.setdefault(r["_g"], []).append((int(r["_b"]), int(r["_c"])))
    # driver: locate each target rank's bucket + its bucket-local rank
    targets = []  # (g, b, local_rank, qi, weight)
    for g, lst in per_group.items():
        lst.sort()
        n = bounds[g][0]
        cums, cum = {}, 0
        for b, c in lst:
            cums[b] = cum  # ranks before bucket b
            cum += c
        order = [b for b, _ in lst]

        def locate(rank):  # 1-based global rank -> (bucket, local rank)
            import bisect

            idx = bisect.bisect_right([cums[b] for b in order], rank - 1) - 1
            b = order[idx]
            return b, rank - cums[b]

        for qi, p in enumerate(probs):
            pos = p * (n - 1)
            lo_i, hi_i = math.floor(pos), math.ceil(pos)
            if lo_i == hi_i:
                b, lr = locate(lo_i + 1)
                targets.append((g, b, lr, qi, 1.0))
            else:
                # exactly Percentile.getPercentile's two weights
                b, lr = locate(lo_i + 1)
                targets.append((g, b, lr, qi, float(hi_i) - pos))
                b, lr = locate(hi_i + 1)
                targets.append((g, b, lr, qi, pos - float(lo_i)))
    tgt_df = spark.createDataFrame(
        targets, f"_g {g_type}, _b int, _lr long, _qi int, _w double"
    )
    hit_pairs = sorted({(g, b) for g, b, *_ in targets}, key=lambda gb: (gb[0] is None, gb))
    # map-side prefilter: only rows of the ≤ 2·|probs| buckets per group
    # that hold a target rank ever reach the exchange
    pred = None
    for g, b in hit_pairs:
        term = F.col("_g").eqNullSafe(F.lit(g)) & (F.col("_b") == F.lit(b))
        pred = term if pred is None else (pred | term)
    hits = keyed.filter(pred)
    # distinct-value counts bound the window input by the bucket's value
    # domain, not its row count (hot values collapse to one row)
    dist = hits.groupBy("_g", "_b", "_v").agg(F.count("*").alias("_c"))
    w = (
        Window.partitionBy("_g", "_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = dist.withColumn("_cum", F.sum("_c").over(w))
    # a value covers bucket-local ranks (_cum − _c, _cum]
    j = _join_null_safe(ranked, F.broadcast(tgt_df), ["_g", "_b"]).filter(
        (F.col("_lr") > F.col("_cum") - F.col("_c")) & (F.col("_lr") <= F.col("_cum"))
    )
    picked = j.groupBy("_g").agg(
        *[
            F.sum(F.when(F.col("_qi") == qi, F.col("_w") * F.col("_v"))).alias(
                f"_q{qi}"
            )
            for qi in range(len(probs))
        ]
    )
    return picked.withColumnRenamed("_g", group_col)


# Above this Catalyst size estimate of the (group, value) projection the
# `percentile` aggregate is no longer trusted: its final buffer holds every
# value of a group (guide §5), so a 2 GiB projection (~10⁸ doubles) is the
# last point where one skewed group provably fits one task's memory.
# Below it the single-job aggregate wins outright (measured r11: 1.33 s
# aggregate vs 2.66 s distributed at sf0.1 — the distributed form's two
# extra driver jobs cost ~1 s of fixed overhead that only amortizes at
# scale); above it the rank form is the only memory-safe choice. Both
# branches are proven value-identical (test_r11_opt.py).
QUANTILE_AGG_MAX_BYTES = 2 << 30


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75) of extended price per
    return flag. Size-dispatched (r11, VERDICT r10 #6): inputs whose
    (flag, price) projection is provably under ``QUANTILE_AGG_MAX_BYTES``
    take the single-pass ``percentile`` aggregate; anything bigger (or of
    unknown size) takes the DISTRIBUTED bucket-rank pass
    (``_exact_group_quantiles``) that never holds a group's values in one
    buffer. The two forms are value-identical — the dispatch only picks the
    physical plan, like the GEMM/bucketed and driver/distributed-CC
    dispatches before it. DuckDB ``quantile_cont`` is the oracle; both use
    linear interpolation."""
    li = _t(spark, sf_dir, "lineitem")
    if plan_bytes_below(
        li.select("l_returnflag", "l_extendedprice"), QUANTILE_AGG_MAX_BYTES
    ):
        pct = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
        return li.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.round(F.element_at(pct, 1), 6).alias("p25"),
            F.round(F.element_at(pct, 2), 6).alias("p50"),
            F.round(F.element_at(pct, 3), 6).alias("p75"),
            F.round(F.avg("l_extendedprice"), 6).alias("mean_price"),
        )
    base = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.avg("l_extendedprice"), 6).alias("mean_price"),
    )
    q = _exact_group_quantiles(li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.75])
    return _join_null_safe(base, q, ["l_returnflag"], "left").select(
        "l_returnflag",
        "n",
        F.round("_q0", 6).alias("p25"),
        F.round("_q1", 6).alias("p50"),
        F.round("_q2", 6).alias("p75"),
        "mean_price",
    )


ORACLE_QUANTILES = """
SELECT l_returnflag, count(*) AS n,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       round(avg(l_extendedprice), 6) AS mean_price
FROM lineitem GROUP BY l_returnflag
"""


def priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one returned lineitem, counted
    per priority — EXISTS as a left-semi join (one shuffle; Catalyst keeps
    the build side de-duplicated, no row explosion on multi-match)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_PRIORITY_RETURNS = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: per-customer order counts (LEFT join keeps
    zero-order customers) → histogram of customers per count. Two
    aggregations; the first reuses the join's hash partitioning on
    c_custkey, so only one real exchange."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_orders").desc())
    )


ORACLE_CUST_DIST = """
SELECT n_orders, count(*) AS n_customers FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) GROUP BY n_orders ORDER BY n_orders DESC
"""


def cheapest_shipment_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the supplier shipping each part at its minimum
    price. The correlated min-subquery decorrelates into ONE window pass
    (min + tie-break row_number over the same partitioning — a single
    shuffle on l_partkey), instead of a groupBy-min + re-join."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_suppkey").asc()
    )
    best = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_partkey",
            F.round("l_extendedprice", 6).alias("min_price"),
            F.col("l_suppkey").alias("supplier_key"),
        )
    )
    return best


ORACLE_CHEAPEST = """
SELECT l_partkey, round(l_extendedprice, 6) AS min_price,
       l_suppkey AS supplier_key
FROM (
  SELECT l_partkey, l_extendedprice, l_suppkey,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice, l_suppkey) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: a group-by-HAVING subquery on the fact table feeding a
    multi-way join back to orders and customer. Scale notes: the pre-aggregation
    on ``l_orderkey`` runs with map-side partial aggregation BEFORE any join, so
    only qualifying orderkeys (a tiny set) reach the join — at 100 TB the
    HAVING filter makes the aggregate side broadcastable."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


ORACLE_LARGE_QTY = """
SELECT c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS total_price, total_qty
FROM orders
JOIN (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300
) big ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (CASE inside SUM) over a
    fact-to-dim join. ``part`` is broadcast — the lineitem side never
    shuffles; one map-side-combined aggregate produces a single row."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_share_pct"),
            F.count("*").alias("matched_rows"),
        )
    )


ORACLE_PROMO_SHARE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share_pct,
       count(*) AS matched_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


QUERIES = {
    "events_props_json": events_props_json,
    # sessionize_events sits high so it stays inside the driver's 50-entry
    # correctness window — it was round 1's hash-fail and the driver row is
    # the proof of the fix.
    "sessionize_events": sessionize_events,
    "large_quantity_orders": large_quantity_orders,
    "promo_revenue_share": promo_revenue_share,
    "price_quantiles": price_quantiles,
    "priority_with_returns": priority_with_returns,
    "customer_order_distribution": customer_order_distribution,
    "cheapest_shipment_per_part": cheapest_shipment_per_part,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_volume": q5_region_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "customers_without_orders": customers_without_orders,
    "top_orders_per_customer": top_orders_per_customer,
    "events_running_sum": events_running_sum,
    "order_priority_rollup": order_priority_rollup,
    "status_pivot": status_pivot,
    "customer_nation_set_ops": customer_nation_set_ops,
    "part_brand_stats": part_brand_stats,
    "order_date_breakdown": order_date_breakdown,
    "events_hourly": events_hourly,
}

ORACLES = {
    "large_quantity_orders": ORACLE_LARGE_QTY,
    "promo_revenue_share": ORACLE_PROMO_SHARE,
    "q1_pricing_summary": ORACLE_Q1,
    "q3_shipping_priority": ORACLE_Q3,
    "q5_region_volume": ORACLE_Q5,
    "q6_forecast_revenue": ORACLE_Q6,
    "customers_without_orders": ORACLE_ANTI,
    "top_orders_per_customer": ORACLE_TOPK_ORDERS,
    "events_running_sum": ORACLE_RUNNING,
    "sessionize_events": ORACLE_SESSIONIZE,
    "order_priority_rollup": ORACLE_ROLLUP,
    "status_pivot": ORACLE_PIVOT,
    "customer_nation_set_ops": ORACLE_SET_OPS,
    "part_brand_stats": ORACLE_BRAND,
    "order_date_breakdown": ORACLE_DATES,
    "events_hourly": ORACLE_HOURLY,
    "events_props_json": ORACLE_PROPS_JSON,
    "price_quantiles": ORACLE_QUANTILES,
    "priority_with_returns": ORACLE_PRIORITY_RETURNS,
    "customer_order_distribution": ORACLE_CUST_DIST,
    "cheapest_shipment_per_part": ORACLE_CHEAPEST,
}


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path over the semi-structured props column:
    ``parse_json`` once into the binary VARIANT encoding, then
    ``variant_get`` typed extraction and ``schema_of_variant_agg`` shape
    inference per event type — the engine-native answer to schemaless
    columns (`events_props_json` re-parses JSON TEXT per extraction; at
    100 TB you parse once, store VARIANT, and every downstream extraction
    is a binary field probe, which is the point of this twin).

    Determinism: integer extraction + bigint sums; the inferred schema
    string is a deterministic function of the values."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("_k"), v.alias("_v"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("_k").cast("bigint").alias("n_distinct_k"),
            F.sum("_k").cast("bigint").alias("sum_k"),
            F.min("_k").cast("int").alias("min_k"),
            F.max("_k").cast("int").alias("max_k"),
            F.schema_of_variant_agg("_v").alias("props_schema"),
        )
        .orderBy("event_type")
    )


ORACLE_PROPS_VARIANT = """
SELECT event_type, count(*)::BIGINT AS n_rows,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS INT))::BIGINT
         AS n_distinct_k,
       sum(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT))::INT AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT))::INT AS max_k,
       'OBJECT<k: BIGINT>' AS props_schema
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES.update({"events_props_variant": events_props_variant})
ORACLES.update({"events_props_variant": ORACLE_PROPS_VARIANT})


# One SQL text, two engines: Spark 4's WITH RECURSIVE executes this string
# directly, and the oracle IS the same string run by DuckDB — zero
# translation gap by construction.
_TREE_SQL = """
WITH RECURSIVE chain (k, depth) AS (
  SELECT c_custkey, 0 FROM customer WHERE c_custkey = 0
  UNION ALL
  SELECT c.c_custkey, ch.depth + 1
  FROM customer c JOIN chain ch
    ON CAST(FLOOR(c.c_custkey / 10) AS BIGINT) = ch.k
  WHERE c.c_custkey <> 0
),
rev AS (
  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rc
  FROM orders GROUP BY o_custkey
)
SELECT chain.depth,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(chain.k) AS BIGINT) AS min_key,
       CAST(MAX(chain.k) AS BIGINT) AS max_key,
       ROUND(COALESCE(SUM(rev.rc), 0) / CAST(100 AS DOUBLE), 2)
         AS subtree_level_revenue_r
FROM chain LEFT JOIN rev ON chain.k = rev.o_custkey
GROUP BY chain.depth
ORDER BY chain.depth
"""


def customer_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE (SPARK-24497): customers form a synthetic
    10-ary referral tree (parent = custkey÷10, rooted at 0) and the
    recursion walks it to assign every customer a depth, with per-level
    counts and revenue — the hierarchy-explosion query (org charts, BOM,
    category trees) that needed iterative driver loops before Spark 4.
    The ORACLE IS THE SAME SQL STRING run by DuckDB — no translation gap.

    Determinism: integer keys and depths; exact cents.

    Scale: each recursion level is one equi-join on the parent key
    (depth ≈ log₁₀(max key) levels, so ~7 joins at a billion customers) —
    the same plan a driver-side loop would produce, minus the driver."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TREE_SQL)


QUERIES.update({"customer_tree_depth": customer_tree_depth})
ORACLES.update({"customer_tree_depth": _TREE_SQL})


def status_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT → UNPIVOT inverse property on the engine itself: orders pivot
    to a wide (priority × status-count-columns) table, then
    ``DataFrame.unpivot`` (Spark's melt) folds it back to long form — and
    the oracle is the DIRECT long-form GROUP BY, so the round trip is
    proven lossless (the wide-table detour must change nothing). Covers
    the unpivot half of the reshape surface (`status_pivot` covers
    pivot).

    Scale: one map-side rollup to priority×status cells; pivot/unpivot
    reshape those few rows only."""
    o = _t(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ids=["o_orderpriority"],
        values=statuses,
        variableColumnName="status",
        valueColumnName="n_orders",
    )
    return (
        long.select(
            "o_orderpriority",
            "status",
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        )
        .filter(F.col("n_orders") > 0)
        .orderBy("o_orderpriority", "status")
    )


ORACLE_STATUS_UNPIVOT = """
SELECT o_orderpriority, o_orderstatus AS status, count(*)::BIGINT AS n_orders
FROM orders
WHERE o_orderstatus IN ('F', 'O', 'P')
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, status
"""

QUERIES.update({"status_unpivot_roundtrip": status_unpivot_roundtrip})
ORACLES.update({"status_unpivot_roundtrip": ORACLE_STATUS_UNPIVOT})
