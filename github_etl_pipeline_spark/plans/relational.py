"""Relational operator queries (SURVEY §2.4 A1-A4, R10-R15; §2.3 J1/J2;
§2.1 S8-analog) over the driver's TPC-H-ish test tables, each with a
DuckDB oracle. See registry.py for the hash-stability rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.epoch import event_micros, bucket_div_sql
from github_etl_pipeline_spark.plans.registry import register
from github_etl_pipeline_spark.sources.tables import read_table as _t
from github_etl_pipeline_spark.sources.tables import tables_named


def _dec(col, scale: int = 2):
    return (F.col(col) if isinstance(col, str) else col).cast(f"decimal(18,{scale})")


def _spark_sql_text(sql: str) -> str:
    """Rewrite shared (Spark+DuckDB) SQL for Spark execution: temporal
    literals become TIMESTAMP_NTZ so they compare naive-to-naive against
    the testdata's TIMESTAMP_NTZ date columns. A plain ``TIMESTAMP`` literal
    is LTZ in Spark, and an NTZ-vs-LTZ comparison casts through
    ``spark.sql.session.timeZone`` — correct under the pinned UTC session
    but silently shifting predicate boundaries if a deployment changes the
    tz. DuckDB's TIMESTAMP is already naive, so the oracle string needs no
    rewrite. tests/test_relational_extra.py re-runs the literal-dated
    TPC-H queries under a deliberately non-UTC session tz to pin this."""
    return sql.replace("TIMESTAMP '", "TIMESTAMP_NTZ '")


def _sql_over_views(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """``sql`` run by ``spark.sql`` over temp views of the tables it names.
    Each ``read_table`` runs one schema-inference job, so only those
    tables are read."""
    for name in tables_named(sql):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_spark_sql_text(sql))


# --------------------------------------------------------------------------
# A1-A4: fused scan->filter->aggregate (TPC-H Q1 shape; the reference's
# per-pool size/sum/min/max/avg loop, etl/transform.py:190-225, as one
# hash aggregate with partial (map-side) combine)
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_quantity <= 45
GROUP BY l_returnflag, l_linestatus
""",
    doc="A1-A4 fused aggregate with predicate pushdown (filter reaches the scan)",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") <= 45)
    disc = _dec(F.lit(1) - F.col("l_discount"), 2).cast("decimal(8,2)")
    tax = _dec(F.lit(1) + F.col("l_tax"), 2).cast("decimal(8,2)")
    sum_qty = F.sum(_dec("l_quantity")).cast("double")
    sum_base = F.sum(_dec("l_extendedprice")).cast("double")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_base.alias("sum_base_price"),
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
        F.sum(_dec("l_extendedprice") * disc * tax).cast("double").alias("sum_charge"),
        (sum_qty / F.count(F.lit(1))).alias("avg_qty"),
        (sum_base / F.count(F.lit(1))).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# R10: summary statistics incl. median / stddev / distinct count
# (README.md:66-76 older-schema surface)
# --------------------------------------------------------------------------
@register(
    "summary_stats_orders",
    oracle="""
WITH s AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sumsq,
         MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price,
         MEDIAN(o_totalprice) AS median_price,
         COUNT(DISTINCT o_custkey) AS n_customers
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, total, min_price, max_price,
       total / n AS avg_price,
       median_price,
       ROUND(SQRT((sumsq - total*total/n) / (n - 1)), 4) AS stddev_price,
       n_customers
FROM s
""",
    doc="R10 count/sum/min/max/avg/median/stddev/countDistinct; stddev from exact decimal sum-of-squares for cross-engine determinism",
)
def summary_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = _dec("o_totalprice")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("double").alias("total"),
        F.sum(d * d).cast("double").alias("sumsq"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.median("o_totalprice").alias("median_price"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )
    return s.select(
        "o_orderpriority",
        "n",
        "total",
        "min_price",
        "max_price",
        (F.col("total") / F.col("n")).alias("avg_price"),
        "median_price",
        F.round(
            F.sqrt((F.col("sumsq") - F.col("total") * F.col("total") / F.col("n")) / (F.col("n") - 1)),
            4,
        ).alias("stddev_price"),
        "n_customers",
    )


# --------------------------------------------------------------------------
# R12: group-count distribution, descending
# --------------------------------------------------------------------------
@register(
    "type_distribution_events",
    oracle="SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
    doc="R12 type_distribution: count per type code",
)
def type_distribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


# --------------------------------------------------------------------------
# R13: per-group stats with percentage-of-total (unpartitioned window)
# --------------------------------------------------------------------------
@register(
    "pct_of_total_events",
    oracle="""
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(*) * 100.0 / SUM(COUNT(*)) OVER () AS pct_count
FROM events GROUP BY event_type
""",
    doc="R13 type_statistics: per-type count/sum + pct-of-total via window over the aggregate",
)
def pct_of_total_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )
    w = Window.partitionBy()
    return g.select(
        "event_type",
        "cnt",
        "sum_value",
        (F.col("cnt") * 100.0 / F.sum("cnt").over(w)).alias("pct_count"),
    )


# --------------------------------------------------------------------------
# R14: fixed-width value histogram with percentages
# --------------------------------------------------------------------------
@register(
    "value_histogram_lineitem",
    oracle="""
WITH b AS (
  SELECT LEAST(CAST(FLOOR(l_extendedprice / 10000) AS BIGINT), 9) AS bucket
  FROM lineitem
)
SELECT bucket, COUNT(*) AS cnt,
       COUNT(*) * 100.0 / SUM(COUNT(*)) OVER () AS pct
FROM b GROUP BY bucket
""",
    doc="R14 value_distribution: 10k-wide buckets, top-clamped, with pct-of-total",
)
def value_histogram_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _t(spark, sf_dir, "lineitem").select(
        F.least(F.floor(F.col("l_extendedprice") / 10000).cast("long"), F.lit(9)).alias("bucket")
    )
    g = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    return g.select(
        "bucket", "cnt", (F.col("cnt") * 100.0 / F.sum("cnt").over(Window.partitionBy())).alias("pct")
    )


# --------------------------------------------------------------------------
# R15: first-k / last-k rows per group via row_number windows
# --------------------------------------------------------------------------
@register(
    "first_last_k_events",
    oracle="""
WITH r AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC,  event_id ASC)  AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
)
SELECT user_id, 'first' AS direction, rn_first AS rn, event_id, value FROM r WHERE rn_first <= 3
UNION ALL
SELECT user_id, 'last'  AS direction, rn_last  AS rn, event_id, value FROM r WHERE rn_last  <= 3
""",
    doc="R15 first_10/last_10 sampling (k=3) with deterministic tie-break on event_id",
)
def first_last_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    wf = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wl = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = e.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
    )
    first = r.where(F.col("rn_first") <= 3).select(
        "user_id", F.lit("first").alias("direction"), F.col("rn_first").alias("rn"), "event_id", "value"
    )
    last = r.where(F.col("rn_last") <= 3).select(
        "user_id", F.lit("last").alias("direction"), F.col("rn_last").alias("rn"), "event_id", "value"
    )
    return first.unionAll(last)


# --------------------------------------------------------------------------
# J1/J2: small-dimension broadcast joins + list collection
# --------------------------------------------------------------------------
@register(
    "region_rollup",
    oracle="""
SELECT r.r_name AS region,
       COUNT(DISTINCT n.n_nationkey) AS n_nations,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
       (SELECT STRING_AGG(n_name, ',' ORDER BY n_name)
          FROM (SELECT DISTINCT n2.n_name FROM nation n2 WHERE n2.n_regionkey = r.r_regionkey)) AS nations_csv
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY r.r_regionkey, r.r_name
""",
    doc="J1/J2 broadcast dim joins (region->nation->customer) with sorted list collection",
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.groupBy(F.col("r_name").alias("region")).agg(
        F.count_distinct("n_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations_csv"),
    )


# --------------------------------------------------------------------------
# S8-analog: dedupe keeping the latest version of each logical key
# --------------------------------------------------------------------------
@register(
    "dedup_latest_events",
    oracle="""
SELECT user_id, event_type, event_id, value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="S8 upsert semantics as batch: keep newest row per (user_id, event_type)",
)
def dedup_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


# --------------------------------------------------------------------------
# sorts / limits: global top-k (orderBy + limit -> TakeOrderedAndProject)
# --------------------------------------------------------------------------
@register(
    "top_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
    doc="global top-k: Spark plans TakeOrderedAndProject (no full sort)",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# ROLLUP subtotals (grouping-set aggregate)
# --------------------------------------------------------------------------
@register(
    "rollup_orders",
    oracle="""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
    doc="hierarchical subtotals via ROLLUP grouping sets",
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# Exact interpolated quantiles (R10 extension)
# --------------------------------------------------------------------------
@register(
    "quantiles_lineitem",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       quantile_cont(l_quantity, 0.95) AS p95
FROM lineitem GROUP BY l_returnflag
""",
    doc="exact interpolated quantiles per group (Spark percentile == DuckDB quantile_cont)",
)
def quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        F.percentile("l_quantity", F.lit(0.95)).alias("p95"),
    )


# --------------------------------------------------------------------------
# Correlation from exact decimal moments (order-independent float math)
# --------------------------------------------------------------------------
@register(
    "corr_quantity_price",
    oracle="""
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n*sxy - sx*sy) / (SQRT(n*sx2 - sx*sx) * SQRT(n*sy2 - sy*sy)), 6) AS corr_qty_price
FROM m
""",
    doc="Pearson correlation from exact decimal co-moments — deterministic across engines (engine-native corr() is accumulation-order dependent)",
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dq, dp = _dec("l_quantity"), _dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).cast("double").alias("sx"),
        F.sum(dp).cast("double").alias("sy"),
        F.sum(dq * dp).cast("double").alias("sxy"),
        F.sum(dq * dq).cast("double").alias("sx2"),
        F.sum(dp * dp).cast("double").alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sx2") - sx * sx) * F.sqrt(n * F.col("sy2") - sy * sy)
    )
    return m.select("l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price"))


# --------------------------------------------------------------------------
# Sessionization (gap-based session windows over an event stream)
# --------------------------------------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds


@register(
    "sessionize_events",
    oracle=f"""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
m AS (
  SELECT user_id, event_id, tsu,
         CASE WHEN tsu - LAG(tsu) OVER w > {SESSION_GAP_US} OR LAG(tsu) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
),
s AS (
  SELECT user_id, event_id, tsu,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM m
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       CAST((MAX(tsu) - MIN(tsu)) // 1000 AS BIGINT) AS duration_ms
FROM s GROUP BY user_id, session_idx
""",
    doc="gap-based sessionization (30-min inactivity) via lag + running sum; micros on both engines (DuckDB truncates parquet NANOS)",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", event_micros(ev, "ts").alias("tsu"))
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    m = e.withColumn(
        "is_new",
        F.when(
            (F.col("tsu") - F.lag("tsu").over(w) > SESSION_GAP_US)
            | F.lag("tsu").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = m.withColumn(
        "session_idx", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor((F.max("tsu") - F.min("tsu")) / 1000).cast("long").alias("duration_ms"),
    )


# --------------------------------------------------------------------------
# As-of join (latest prior event of another type) — merge-style via window
# --------------------------------------------------------------------------
@register(
    "asof_click_before_error",
    oracle="""
WITH err AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS tsu FROM events WHERE event_type = 'error'),
clk AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS tsu FROM events WHERE event_type = 'click')
SELECT err.user_id, err.error_id, clk.click_id
FROM err ASOF LEFT JOIN clk ON err.user_id = clk.user_id AND clk.tsu <= err.tsu
""",
    doc="as-of join: most recent click at-or-before each error, per user — implemented as a merge (union + last_value window), one shuffle, vs DuckDB's native ASOF JOIN",
)
def asof_click_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        event_micros(ev, "ts").alias("tsu"),
    ).where(F.col("event_type").isin("error", "click"))
    # union-merge: order each user's clicks+errors by time; carry the last
    # click forward; emit error rows. Clicks sort BEFORE errors at equal
    # timestamps (as-of is inclusive), via a type rank.
    ordered = e.withColumn("trank", F.when(F.col("event_type") == "click", 0).otherwise(1))
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu", "trank", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = ordered.withColumn(
        "click_id",
        F.last(F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "click_id"
    )


# --------------------------------------------------------------------------
# Generalized as-of join: nearest-within-tolerance via the asof_join
# operator (direction/tolerance/exact-match parameterization the fixed
# query above lacks; operators/joins.py::asof_join)
# --------------------------------------------------------------------------
_ASOF_TOL_US = 600_000_000  # 10 minutes


@register(
    "asof_nearest_events",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id AS error_id, epoch_us(ts) AS et
  FROM events WHERE event_type = 'error'
),
p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT e.error_id, p.purchase_id, p.pt - e.et AS dt,
         ROW_NUMBER() OVER (
           PARTITION BY e.error_id
           ORDER BY abs(p.pt - e.et),
                    CASE WHEN p.pt <= e.et THEN 0 ELSE 1 END,
                    CASE WHEN p.pt <= e.et THEN -p.purchase_id ELSE p.purchase_id END
         ) AS rn
  FROM e JOIN p ON e.user_id = p.user_id AND abs(p.pt - e.et) <= {_ASOF_TOL_US}
)
SELECT e.user_id, e.error_id, c.purchase_id, c.dt AS asof_dt
FROM e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (error_id)
""",
    doc="generalized as-of join (operators/joins.py::asof_join): nearest purchase within ±10min of each error per user, backward-preferring ties — ONE shuffle + ONE sort computes both direction candidates (two frames over the same WindowExec); the oracle replays the tie-break (backward first, then max/min purchase_id by direction) over an explicit tolerance-bounded join",
)
def asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type", event_micros(ev, "ts").alias("tsu")
    )
    errors = base.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "tsu"
    )
    purchases = base.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("tsu").alias("ptsu"),
        F.col("event_id").alias("purchase_id"),
    )
    out = asof_join(
        errors,
        purchases,
        left_on="tsu",
        right_on="ptsu",
        values=["purchase_id"],
        by=["user_id"],
        direction="nearest",
        tolerance=_ASOF_TOL_US,
    )
    return out.select("user_id", "error_id", "purchase_id", "asof_dt")


# --------------------------------------------------------------------------
# Semi / anti joins (existence checks)
# --------------------------------------------------------------------------
@register(
    "semi_anti_customers",
    oracle="""
SELECT 'with_orders' AS grp, COUNT(*) AS cnt FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'without_orders' AS grp, COUNT(*) AS cnt FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="left-semi and left-anti joins (existence / absence checks)",
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(F.lit("with_orders").alias("grp"), "cnt")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(F.lit("without_orders").alias("grp"), "cnt")
    return with_orders.unionAll(without)


# --------------------------------------------------------------------------
# Streaming-unified tumbling window aggregation (batch semantics checked
# against the oracle; the same code runs on a stream with a watermark)
# --------------------------------------------------------------------------
@register(
    "windowed_event_counts",
    oracle="""
WITH e AS (SELECT epoch_us(ts) AS tsu, event_type, value FROM events)
SELECT (tsu // 3600000000) * 3600000000 AS window_start_us,
       (tsu // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
       event_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM e GROUP BY 1, 2, 3
""",
    doc="tumbling 1h event-time windows (unified batch/streaming operator; streaming adds a watermark)",
)
def windowed_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.streaming.windows import windowed_event_counts

    return windowed_event_counts(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Stream-stream interval join (unified batch/streaming; the streaming
# run carries watermarks on BOTH sides so join state is bounded)
# --------------------------------------------------------------------------
@register(
    "stream_join_click_purchase",
    oracle="""
WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS tsu
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, event_id, epoch_us(ts) AS tsu
           FROM events WHERE event_type = 'purchase')
SELECT c.user_id AS user_id, c.event_id AS left_id, p.event_id AS right_id,
       c.tsu AS left_us, p.tsu AS right_us,
       (p.tsu - c.tsu) // 1000 AS delay_ms
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 1800000000
""",
    doc="stream-stream interval join: purchases within 30min of a click, per user (watermark-bounded state when streaming)",
)
def stream_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.streaming.windows import interval_join_streams

    ev = _t(spark, sf_dir, "events")
    return interval_join_streams(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


# --------------------------------------------------------------------------
# CUBE subtotals (full grouping-set lattice)
# --------------------------------------------------------------------------
@register(
    "cube_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="full grouping-set lattice via CUBE",
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# PIVOT (wide reshape) with EXPLICIT pivot values — at scale you never
# let Spark run the extra distinct-values job or explode column count on
# surprise keys; the fixed list keeps the plan a single two-phase agg
# --------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_user_cohort_events",
    oracle=f"""
SELECT user_id % 10 AS cohort,
       {', '.join(f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY user_id % 10
""",
    doc="pivot to wide per-cohort event-type counts with explicit pivot values (no distinct-values pre-job, fixed output schema)",
)
def pivot_user_cohort_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    wide = (
        e.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return wide.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT as deduplicating set semantics
# --------------------------------------------------------------------------
@register(
    "set_ops_users",
    oracle="""
SELECT 'both' AS relation, user_id FROM
  (SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95
   INTERSECT
   SELECT user_id FROM events WHERE event_type = 'error' AND value > 99)
UNION ALL
SELECT 'buyer_only' AS relation, user_id FROM
  (SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95
   EXCEPT
   SELECT user_id FROM events WHERE event_type = 'error' AND value > 99)
""",
    doc="INTERSECT / EXCEPT set semantics (big buyers with/without severe errors), tagged and unioned — subtract() is EXCEPT DISTINCT, intersect() is INTERSECT DISTINCT",
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    buyers = e.where((F.col("event_type") == "purchase") & (F.col("value") > 95)).select(
        "user_id"
    )
    errs = e.where((F.col("event_type") == "error") & (F.col("value") > 99)).select("user_id")
    both = buyers.intersect(errs).select(F.lit("both").alias("relation"), "user_id")
    only = buyers.subtract(errs).select(F.lit("buyer_only").alias("relation"), "user_id")
    return both.unionByName(only)


# --------------------------------------------------------------------------
# Range (interval-containment) join — bucketized into an equi-join, the
# custom operator Spark lacks natively (see operators/joins.py)
# --------------------------------------------------------------------------
@register(
    "range_join_clicks_after_error",
    oracle="""
WITH err AS (
  SELECT user_id, event_id AS error_id, epoch_us(ts) AS win_start,
         epoch_us(ts) + 86400000000 AS win_end
  FROM events WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS tsu
  FROM events WHERE event_type = 'click'
)
SELECT err.user_id, error_id, click_id
FROM err JOIN clk
  ON err.user_id = clk.user_id AND clk.tsu >= err.win_start AND clk.tsu <= err.win_end
""",
    doc="range join: clicks within 24h after each error, same user — bucketized to a hash equi-join on (user, day-bucket) + exact verify (a naive condition join would plan BroadcastNestedLoopJoin)",
)
def range_join_clicks_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.joins import range_join

    e = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    tsu = event_micros(e, "ts")
    errors = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        tsu.alias("win_start"),
        (tsu + day_us).alias("win_end"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        tsu.alias("tsu"),
    )
    return range_join(
        clicks, errors, "tsu", "win_start", "win_end", keys=("user_id",),
        bucket_width=day_us,
    ).select("user_id", "error_id", "click_id")


# --------------------------------------------------------------------------
# SQL entry path: the same engine through spark.sql over registered views
# (every other query builds DataFrames; these two prove the declarative
# SQL surface plans identically — multi-join analytics with broadcast
# dims, pushed-down filters, and decimal-exact revenue sums). The Spark
# and DuckDB statements differ ONLY in the date-format function name.
# --------------------------------------------------------------------------
_Q3_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       {date_fmt} AS order_date,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register(
    "tpch_q3_shipping_priority",
    oracle=_Q3_SQL.format(date_fmt="strftime(o_orderdate, '%Y-%m-%d')"),
    doc="TPC-H Q3 shape via the spark.sql entry path: 3-way join, pushed-down segment/date filters, decimal-exact revenue, deterministic top-10 tie-break",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(
        spark, sf_dir, _Q3_SQL.format(date_fmt="date_format(o_orderdate, 'yyyy-MM-dd')")
    )


_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register(
    "tpch_q5_local_supplier",
    oracle=_Q5_SQL,
    doc="TPC-H Q5 shape via spark.sql: 6-way join with broadcast dim chain (region->nation->supplier), local-supplier co-nation predicate, decimal-exact revenue per nation",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _Q5_SQL)


# --------------------------------------------------------------------------
# Window-function analytics breadth: ranking, quartile bucketing, frame-
# bounded moving average, and lag delta in ONE pass — three window specs
# over the same partitioning key, so Spark plans a single shuffle on
# user_id and evaluates all four functions inside the sort-based window
# operators (no per-function re-shuffle).
# --------------------------------------------------------------------------
@register(
    "window_analytics_events",
    oracle="""
WITH p AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
  rank()    OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
  ntile(4)  OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS quartile,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
         (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
    / (COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS moving_avg3,
  round(value - COALESCE(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), value), 2) AS delta_prev
FROM p
""",
    doc="window analytics in one pass: rank + ntile(4) by value, 3-row moving average (decimal-exact frame sum), lag delta — one user_id shuffle serves all four window functions",
)
def window_analytics_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value")
    )
    w_val = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    w_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_ts3 = w_ts.rowsBetween(-2, 0)
    mov = F.sum(_dec("value")).over(w_ts3).cast("double") / F.count(F.lit(1)).over(w_ts3)
    return p.select(
        "user_id",
        "event_id",
        F.rank().over(w_val).alias("value_rank"),
        F.ntile(4).over(w_val).alias("quartile"),
        mov.alias("moving_avg3"),
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w_ts), F.col("value")), 2
        ).alias("delta_prev"),
    )


# --------------------------------------------------------------------------
# Hypertable-style continuous aggregate: the daily rollup is computed
# FROM the hourly aggregate, not from raw events — the multi-resolution
# reuse pattern (TimescaleDB continuous aggregates, druid rollup). At
# 100 TB the hourly relation is ~events/3600 rows, so the second
# aggregation is near-free and the raw scan happens exactly once.
# Integer-micros time math on both engines (event_micros dispatches on
# the physical ts type; DuckDB epoch_us matches for both).
# --------------------------------------------------------------------------
@register(
    "hypertable_rollup_events",
    oracle="""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS v
  FROM events GROUP BY 1
)
SELECT hour_bucket // 24 AS day_bucket,
       CAST(SUM(n) AS BIGINT) AS n_events,
       COUNT(*) AS n_active_hours,
       CAST(SUM(v) AS DOUBLE) AS total_value
FROM hourly GROUP BY 1
""",
    doc="hypertable rollup: daily continuous aggregate re-aggregated FROM the hourly aggregate (decimal-exact partial sums compose), raw events scanned once — integer-micros buckets on both engines",
)
def hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.select(event_micros(e, "ts").alias("tsu"), _dec("value").alias("_v"))
        .select(F.expr(bucket_div_sql("tsu", 3600000000)).alias("hour_bucket"), "_v")
        .groupBy("hour_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_v").alias("v"))
    )
    return (
        hourly.groupBy(F.expr(bucket_div_sql("hour_bucket", 24)).alias("day_bucket"))
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_active_hours"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Time-series gap fill + forward fill: a day scaffold generated from the
# data's own bounds, left-joined onto the daily aggregate, missing days
# zero-filled and the last observed value carried forward. Spark has no
# native gap-fill; sequence() + explode IS the scale shape (scaffold
# cardinality = days x keys, linear; here global, per-key variants
# partition the window by key). The forward-fill window runs over the
# AGGREGATE (days), never the raw events.
# --------------------------------------------------------------------------
@register(
    "gapfill_daily_purchases",
    oracle="""
WITH p AS (
  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
b AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM p),
s AS (SELECT unnest(generate_series(dmin, dmax)) AS day FROM b),
j AS (
  SELECT s.day, COALESCE(p.cnt, 0) AS n_purchases,
         COALESCE(p.rev, 0.0) AS revenue, p.rev AS rev_raw
  FROM s LEFT JOIN p USING (day)
)
SELECT day, day * 86400000000 AS day_us, n_purchases, revenue,
       COALESCE(LAST_VALUE(rev_raw IGNORE NULLS) OVER (
         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
         AS ffill_revenue
FROM j
""",
    doc="time-series gap fill: day scaffold from data bounds (sequence+explode), zero-fill gaps, forward-fill last observed revenue — windows run over the daily aggregate, not raw events",
)
def gapfill_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "purchase")
        .select(event_micros(e, "ts").alias("tsu"), _dec("value").alias("_v"))
        .select(F.expr(bucket_div_sql("tsu", 86400000000)).alias("day"), "_v")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("_v").cast("double").alias("rev"))
    )
    bounds = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    scaffold = bounds.select(F.explode(F.sequence("dmin", "dmax")).alias("day"))
    j = scaffold.join(daily, "day", "left")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return j.select(
        "day",
        (F.col("day") * 86400000000).alias("day_us"),
        F.coalesce("cnt", F.lit(0)).alias("n_purchases"),
        F.coalesce("rev", F.lit(0.0)).alias("revenue"),
        F.coalesce(F.last("rev", ignorenulls=True).over(w), F.lit(0.0)).alias(
            "ffill_revenue"
        ),
    )


# --------------------------------------------------------------------------
# FULL OUTER reconciliation: which nations have negative-balance
# customers but no negative-balance suppliers, and vice versa. Completes
# the join-type matrix (inner/left/semi/anti/range/as-of/stream-stream
# elsewhere); coalesced keys + zero-filled counts are the standard
# reconciliation shape.
# --------------------------------------------------------------------------
@register(
    "full_outer_nation_balance",
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS neg_customers
  FROM customer WHERE c_acctbal < 0 GROUP BY 1
),
s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS neg_suppliers
  FROM supplier WHERE s_acctbal < 0 GROUP BY 1
)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.neg_customers, 0) AS neg_customers,
       COALESCE(s.neg_suppliers, 0) AS neg_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
    doc="full outer join reconciliation of negative-balance customers vs suppliers per nation (coalesced keys, zero-filled counts)",
)
def full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("neg_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("neg_suppliers"))
    )
    j = c.join(s, c["nk_c"] == s["nk_s"], "full_outer")
    return j.select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("neg_customers", F.lit(0)).alias("neg_customers"),
        F.coalesce("neg_suppliers", F.lit(0)).alias("neg_suppliers"),
    )


# --------------------------------------------------------------------------
# Per-key gap fill: each user's own [first_day, last_day] scaffold,
# zero-filled activity and days-since-last-activity. The partitioned
# sibling of gapfill_daily_purchases: scaffold cardinality is
# sum_of_lifespans (linear in keys x days), windows partition by user
# over day-cardinality aggregates — the shape that holds when keys
# number in the billions.
# --------------------------------------------------------------------------
@register(
    "gapfill_user_activity",
    oracle="""
WITH d AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
b AS (SELECT user_id, MIN(day) AS dmin, MAX(day) AS dmax FROM d GROUP BY 1),
s AS (SELECT user_id, unnest(generate_series(dmin, dmax)) AS day FROM b),
j AS (
  SELECT s.user_id, s.day, d.cnt,
         LAST_VALUE(CASE WHEN d.cnt IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER (PARTITION BY s.user_id ORDER BY s.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_active
  FROM s LEFT JOIN d ON d.user_id = s.user_id AND d.day = s.day
)
SELECT user_id, day, COALESCE(cnt, 0) AS n_events,
       CAST(day - last_active AS BIGINT) AS days_since_activity
FROM j
""",
    doc="per-key gap fill: per-user day scaffolds (sequence over per-user bounds), zero-filled counts + days-since-last-activity via a user-partitioned forward-fill window",
)
def gapfill_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    d = (
        e.select("user_id", event_micros(e, "ts").alias("tsu"))
        .select("user_id", F.expr(bucket_div_sql("tsu", 86400000000)).alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    b = d.groupBy("user_id").agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    s = b.select("user_id", F.explode(F.sequence("dmin", "dmax")).alias("day"))
    j = s.join(d, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_active = F.last(
        F.when(F.col("cnt").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w)
    return j.select(
        "user_id",
        "day",
        F.coalesce("cnt", F.lit(0)).alias("n_events"),
        (F.col("day") - last_active).cast("long").alias("days_since_activity"),
    )


# --------------------------------------------------------------------------
# TPC-H Q18 shape (large-volume customer): HAVING-filtered aggregate
# drives the join order — lineitem aggregates ONCE (map-side combined),
# the tiny >threshold key set joins orders, and customer attaches as a
# broadcast dim. At 100 TB the only corpus-sized shuffle is the
# l_orderkey aggregation; everything after runs on the filtered few rows.
# --------------------------------------------------------------------------
@register(
    "tpch_q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice, total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, order_date, o_orderkey
LIMIT 100
""",
    doc="TPC-H Q18 shape: HAVING-filtered lineitem aggregate -> orders join -> broadcast customer dim; one corpus shuffle, then tiny-relation joins",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
        .where(F.col("_q") > 300)
        .select("l_orderkey", F.col("_q").cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "order_date", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Data-quality expectations: the constraint checks a production pipeline
# runs before publishing a table (uniqueness, referential integrity,
# ranges, domains, nulls), as ONE declarative plan — column checks fuse
# into a single scan-aggregate; the RI check is a broadcast anti-join
# whose violation count unions in. Output one row per check, all-integer
# (exact across engines).
# --------------------------------------------------------------------------
@register(
    "dq_expectations_orders",
    oracle="""
SELECT 'o_orderkey_unique' AS check_name,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'o_totalprice_nonnegative',
       CAST(COALESCE(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderdate_in_range',
       CAST(COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                               OR o_orderdate >= TIMESTAMP '1999-01-01'
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderstatus_in_domain',
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                               OR o_orderstatus IS NULL
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey_not_null',
       CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey_in_customer',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
""",
    doc="data-quality expectations: uniqueness / range / domain / null checks fused into one scan-aggregate + a broadcast anti-join RI check, unioned as (check_name, n_violations)",
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")

    def cnt(cond):
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long")

    scan_checks = o.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")))
        .cast("long")
        .alias("o_orderkey_unique"),
        cnt(F.col("o_totalprice") < 0).alias("o_totalprice_nonnegative"),
        cnt(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
            | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        ).alias("o_orderdate_in_range"),
        cnt(
            ~F.col("o_orderstatus").isin("O", "F", "P")
            | F.col("o_orderstatus").isNull()
        ).alias("o_orderstatus_in_domain"),
        cnt(F.col("o_custkey").isNull()).alias("o_custkey_not_null"),
    )
    long_form = scan_checks.selectExpr(
        "stack(5, "
        "'o_orderkey_unique', o_orderkey_unique, "
        "'o_totalprice_nonnegative', o_totalprice_nonnegative, "
        "'o_orderdate_in_range', o_orderdate_in_range, "
        "'o_orderstatus_in_domain', o_orderstatus_in_domain, "
        "'o_custkey_not_null', o_custkey_not_null) "
        "AS (check_name, n_violations)"
    )
    ri = (
        o.where(F.col("o_custkey").isNotNull())
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("o_custkey_in_customer").alias("check_name"), "n_violations")
    )
    return long_form.unionByName(ri)


# --------------------------------------------------------------------------
# Skew profile: the diagnostic you run BEFORE picking a join strategy —
# top heavy-hitter keys with their share of the fact table. One
# map-side-combined aggregate over the key, global top-k via
# TakeOrdered (no full sort), total attached as a broadcast 1-row
# relation so share needs no second scan.
# --------------------------------------------------------------------------
@register(
    "skew_profile_orders",
    oracle="""
WITH k AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM k)
SELECT o_custkey, n_orders, round(CAST(n_orders AS DOUBLE) / total, 6) AS share
FROM k, t
ORDER BY n_orders DESC, o_custkey
LIMIT 10
""",
    doc="skew diagnostic: per-key heavy-hitter counts + share of table, one aggregate + TakeOrdered top-k (no global sort), broadcast total",
)
def skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    total = k.agg(F.sum("n_orders").cast("long").alias("total"))
    top = k.orderBy(F.col("n_orders").desc(), "o_custkey").limit(10)
    return top.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "n_orders",
        F.round(F.col("n_orders").cast("double") / F.col("total"), 6).alias("share"),
    )


# --------------------------------------------------------------------------
# TPC-H Q7 shape (volume shipping): the ONE SQL string runs on both
# engines via the spark.sql entry path. Two broadcast nation dims with a
# symmetric two-nation OR predicate, year extraction as a group key,
# decimal-exact revenue. The only corpus-sized shuffle is the final
# (supp_nation, cust_nation, year) aggregate; supplier/customer/nation
# attach broadcast, and the shipdate range prunes at the scan.
# --------------------------------------------------------------------------
_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l.l_discount AS DECIMAL(8,2)) AS volume
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate >= TIMESTAMP '1995-01-01'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register(
    "tpch_q7_volume_shipping",
    oracle=_Q7_SQL,
    doc="TPC-H Q7 shape via spark.sql: 6-way join, symmetric two-nation OR predicate over broadcast nation dims, pushed-down shipdate range, decimal-exact revenue by (supp_nation, cust_nation, year)",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _Q7_SQL)


# --------------------------------------------------------------------------
# TPC-H Q19 shape (discounted revenue, disjunctive brackets): three
# OR'd predicate brackets spanning BOTH join sides (brand/size from
# part, quantity from lineitem). The join is a broadcast hash join on
# l_partkey; the l_quantity <= 48 bound — common to all brackets — is
# what reaches the lineitem scan, and the per-bracket residual evaluates
# post-join. Exercises disjunctive filter extraction without a
# nested-loop fallback.
# --------------------------------------------------------------------------
_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1  AND l_quantity <= 11)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 48)
"""


@register(
    "tpch_q19_discounted_revenue",
    oracle=_Q19_SQL,
    doc="TPC-H Q19 shape via spark.sql: disjunctive predicate brackets spanning both join sides over a broadcast part join — no nested-loop fallback, decimal-exact revenue",
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_views(spark, sf_dir, _Q19_SQL)


# --------------------------------------------------------------------------
# TPC-H breadth block (round 2): the remaining canonical query SHAPES the
# suite had not yet exercised — correlated scalar subqueries (Q2/Q17),
# correlated EXISTS/NOT EXISTS (Q4/Q21/Q22), pure pushed-down scan
# aggregate (Q6), outer-join count distributions (Q13), conditional
# aggregate shares (Q14), anti-join distinct counting (Q16), and nested
# aggregate dominance (Q20 emulated without partsupp). All run through
# the spark.sql entry path with the IDENTICAL statement as the DuckDB
# oracle: the point is that Catalyst de-correlates every subquery into
# shuffle/broadcast joins (verified by test_plan_hygiene.py — no
# CartesianProduct / BroadcastNestedLoopJoin anywhere), so each shape
# survives a 100-TB fact table.
# --------------------------------------------------------------------------
def _sql_query(name: str, sql: str, doc: str):
    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _sql_over_views(spark, sf_dir, sql)

    builder.__name__ = name
    builder.__doc__ = doc
    register(name, oracle=sql, doc=doc)(builder)
    return builder


_sql_query(
    "tpch_q2_min_price_supplier",
    """
SELECT p_brand, l1.l_partkey, s_name, l1.l_extendedprice AS min_price
FROM lineitem l1
JOIN part ON p_partkey = l1.l_partkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE p_size = 9
  AND l1.l_extendedprice = (
    SELECT MIN(l2.l_extendedprice) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
  )
ORDER BY min_price, l1.l_partkey, s_name
LIMIT 100
""",
    "TPC-H Q2 shape: correlated scalar MIN subquery de-correlated into an aggregate + equi-join on partkey (no per-row re-execution); deterministic top-100",
)

_sql_query(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
""",
    "TPC-H Q4 shape: correlated EXISTS planned as a left-semi hash join on orderkey with the non-equi lateness predicate as join residual",
)

_sql_query(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    "TPC-H Q6 shape: single pushed-down scan aggregate — every predicate reaches the parquet reader, no shuffle beyond the final partial-agg merge",
)

_sql_query(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    "TPC-H Q10 shape: returned-item revenue per customer — fact-fact join on orderkey, broadcast nation dim, decimal-exact revenue, deterministic top-20",
)

_sql_query(
    "tpch_q13_customer_distribution",
    """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
    "TPC-H Q13 shape: outer join preserving order-less customers, per-customer count, then count-of-counts distribution — two shuffles, both on shrinking keys",
)

_sql_query(
    "tpch_q14_promo_revenue",
    """
SELECT CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
     / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE)
       AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""",
    "TPC-H Q14 shape: conditional-aggregate revenue share over a broadcast part join; both sums decimal-exact so the ratio is engine-identical",
)

_sql_query(
    "tpch_q16_supplier_count",
    """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#11'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23)
  AND NOT EXISTS (
    SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey AND s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
""",
    "TPC-H Q16 shape: NOT EXISTS as a broadcast anti-join (deliberately not NOT IN, which would force a null-aware plan), distinct supplier counting per part group",
)

_sql_query(
    "tpch_q17_small_quantity_revenue",
    """
SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem l1
JOIN part ON p_partkey = l1.l_partkey
WHERE p_brand = 'Brand#13'
  AND p_type = 'SMALL'
  AND l1.l_quantity < 0.2 * (
    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
  )
""",
    "TPC-H Q17 shape: correlated scalar AVG subquery (decimal-exact sum/count, never engine-native avg) de-correlated into a per-part aggregate joined back on partkey",
)

_sql_query(
    "tpch_q20_dominant_supplier",
    """
WITH part_ship AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
  GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT l_partkey, SUM(supp_qty) AS part_qty FROM part_ship GROUP BY l_partkey
)
SELECT s_name, COUNT(*) AS dominant_parts
FROM part_ship
JOIN tot ON tot.l_partkey = part_ship.l_partkey
JOIN supplier ON s_suppkey = part_ship.l_suppkey
WHERE 6 * supp_qty > part_qty
GROUP BY s_name
""",
    "TPC-H Q20 shape (emulated without partsupp): nested aggregates find suppliers shipping an outsized (>1/6, vs ~1/26 uniform) share of a part's volume — all-decimal quantity math so the dominance predicate is exact. The PROMO restriction is a broadcast semi-join BELOW the first aggregate (p_partkey is unique, so IN == the original post-agg inner join + p_type filter): the (l_partkey, l_suppkey) shuffle carries only PROMO parts' rows, ~the PROMO selectivity share of lineitem, instead of every part's",
)

_sql_query(
    "tpch_q21_waiting_supplier",
    """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_7'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
    "TPC-H Q21 shape: stacked correlated EXISTS (semi) and NOT EXISTS (anti) self-joins on orderkey isolating the sole late supplier per multi-supplier order",
)

_sql_query(
    "tpch_q22_idle_customers",
    """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer c2 WHERE c2.c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
  )
GROUP BY n_name
""",
    "TPC-H Q22 shape: uncorrelated scalar subquery (global mean, decimal-exact) + anti-join to recent orders — well-funded customers gone idle, by nation",
)

_sql_query(
    "tpch_q8_market_share",
    """
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
     / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_items
FROM (
  SELECT YEAR(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
    "TPC-H Q8 shape: national market share per year — 7-way join (both fact-dim chains broadcast), conditional decimal-exact volume share, YEAR() grouping identical on both engines",
)

_sql_query(
    "tpch_q9_product_profit",
    """
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))
              - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(8,2))
                * CAST(0.10 AS DECIMAL(4,2))) AS DOUBLE) AS profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, YEAR(o_orderdate)
""",
    "TPC-H Q9 shape: product-line profit by supplier nation and year — LIKE-filtered part dim broadcast, fact-fact orderkey join, decimal-exact profit (retail-price cost proxy replaces the absent partsupp.ps_supplycost)",
)

_sql_query(
    "tpch_q11_important_stock",
    """
WITH supply AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS supply_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT partkey, CAST(supply_value AS DOUBLE) AS part_value
FROM supply
WHERE supply_value > (SELECT CAST(SUM(supply_value) * 0.001 AS DECIMAL(18,2)) FROM supply)
ORDER BY part_value DESC, partkey
""",
    "TPC-H Q11 shape: per-part supply value vs a global-total scalar threshold (the aggregate-of-aggregate pattern); the threshold is pinned to DECIMAL(18,2) in both engines so decimal-overflow resolution differences cannot move the cut",
)

_sql_query(
    "tpch_q12_late_shipments",
    """
SELECT l_returnflag AS flag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 7 DAY
GROUP BY l_returnflag
""",
    "TPC-H Q12 shape: priority split of late shipments — fact-fact orderkey join with the lateness predicate as join residual, all-integer conditional counts (returnflag stands in for the absent shipmode)",
)

_sql_query(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    "TPC-H Q15 shape: the revenue-view + MAX scalar-subquery pattern — the quarter aggregate is computed once, its max broadcast back as a filter; decimal equality so ties are engine-exact",
)


# --------------------------------------------------------------------------
# Product-analytics block (round 2): funnel conversion, cohort retention,
# and interval-overlap co-activity — the three standard event-analytics
# shapes a warehouse serves daily, each expressed to minimize shuffles
# (the funnel is ONE shuffle on user_id where the textbook SQL takes
# three joins; retention is one window + one aggregate).
# --------------------------------------------------------------------------
_DAY_US = 86_400_000_000
_WEEK_US = 7 * _DAY_US


@register(
    "funnel_events",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
v AS (SELECT user_id, MIN(tsu) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(tsu) AS t2 FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND tsu > t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(tsu) AS t3 FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND tsu > t2 GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_funnel
""",
    doc="ordered funnel (view -> later click -> later purchase) in ONE user_id shuffle: chained unbounded window-mins over the user partition (t1 = min view, t2 = min click > t1, t3 = min purchase > t2) — vs the oracle's three sequential join-aggregates",
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew note (100-TB): stage times come from conditional MIN window
    # functions over the user partition, NOT per-user collect_list arrays —
    # a heavy user costs O(1) aggregate state (WindowExec buffers spill to
    # disk; an array-collecting agg buffer does not). All three windows
    # share one partitioning, so Catalyst plans a single user_id exchange,
    # and the final groupBy reuses it. tests/test_relational_extra.py
    # exercises a synthetic heavy user.
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_micros(ev, "ts").alias("tsu"))
    wu = Window.partitionBy("user_id")
    tsu, et = F.col("tsu"), F.col("event_type")
    e = e.withColumn("t1", F.min(F.when(et == "view", tsu)).over(wu))
    e = e.withColumn(
        "t2", F.min(F.when((et == "click") & (tsu > F.col("t1")), tsu)).over(wu)
    )
    e = e.withColumn(
        "t3", F.min(F.when((et == "purchase") & (tsu > F.col("t2")), tsu)).over(wu)
    )
    per_user = e.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_funnel"),
    )


@register(
    "cohort_retention_events",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tsu,
         MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS first_ts
  FROM events
)
SELECT first_ts // {_WEEK_US} AS cohort_week,
       tsu // {_WEEK_US} - first_ts // {_WEEK_US} AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM e
GROUP BY cohort_week, week_offset
""",
    doc="cohort retention: users bucketed by first-seen week, distinct-active counts per (cohort, week offset) — first-seen via window MIN (no self-join), all-integer week math",
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", event_micros(ev, "ts").alias("tsu"))
    w = Window.partitionBy("user_id")
    e = e.withColumn("first_ts", F.min("tsu").over(w))
    return (
        e.select(
            F.expr(bucket_div_sql("first_ts", _WEEK_US)).alias("cohort_week"),
            (
                F.expr(bucket_div_sql("tsu", _WEEK_US))
                - F.expr(bucket_div_sql("first_ts", _WEEK_US))
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "overlap_click_purchase_windows",
    oracle=f"""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
a AS (SELECT user_id, tsu // {_DAY_US} AS a_day, MIN(tsu) AS a_start, MAX(tsu) AS a_end
      FROM e WHERE event_type = 'click' GROUP BY user_id, a_day),
b AS (SELECT user_id, tsu // {_DAY_US} AS b_day, MIN(tsu) AS b_start, MAX(tsu) AS b_end
      FROM e WHERE event_type = 'purchase' GROUP BY user_id, b_day)
SELECT user_id, a_day, b_day,
       least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us
FROM a JOIN b USING (user_id)
WHERE a_start <= b_end AND b_start <= a_end
""",
    doc="interval x interval overlap join (operators/joins.py::interval_overlap_join): per-user daily click windows vs purchase windows — canonical-bucket equi-join emits each true pair exactly once (no dedup shuffle), vs the oracle's native IEJoin range predicate",
)
def overlap_click_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.joins import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_micros(ev, "ts").alias("tsu"))

    def windows(t: str, prefix: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == t)
            .groupBy("user_id", F.expr(bucket_div_sql("tsu", _DAY_US)).alias(f"{prefix}_day"))
            .agg(F.min("tsu").alias(f"{prefix}_start"), F.max("tsu").alias(f"{prefix}_end"))
        )

    out = interval_overlap_join(
        windows("click", "a"),
        windows("purchase", "b"),
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        keys=("user_id",),
        bucket_width=_DAY_US,
    )
    return out.select(
        "user_id",
        "a_day",
        "b_day",
        (F.least("a_end", "b_end") - F.greatest("a_start", "b_start")).alias("overlap_us"),
    )


_sql_query(
    "grouping_sets_orders",
    """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
""",
    "explicit GROUPING SETS (disjoint one-dimensional slices — neither rollup "
    "nor cube) with GROUPING() disambiguation of the NULL-vs-'ALL' cells: one "
    "Expand + one aggregate shuffle, identical SQL on both engines",
)


# --------------------------------------------------------------------------
# Association mining (round 13): Apriori-pruned frequent pair mining with
# rule metrics — the market-basket family (operators/itemsets.py). The
# same machinery mines token/tag co-occurrence in training corpora.
# --------------------------------------------------------------------------
@register(
    "frequent_brand_pairs_lineitem",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM items),
freq AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS item_cnt
  FROM items GROUP BY item
  HAVING COUNT(*) >= CEIL(0.02 * (SELECT n_baskets FROM nb))
),
pruned AS (SELECT i.basket, i.item FROM items i JOIN freq USING (item)),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM pruned a JOIN pruned b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, pair_cnt,
       ROUND(CAST(pair_cnt AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6) AS support,
       ROUND(CAST(pair_cnt AS DOUBLE) / CAST(fa.item_cnt AS DOUBLE), 6) AS conf_a_b,
       ROUND(CAST(pair_cnt AS DOUBLE) / CAST(fb.item_cnt AS DOUBLE), 6) AS conf_b_a,
       ROUND((CAST(pair_cnt AS DOUBLE) / CAST(fa.item_cnt AS DOUBLE))
             / (CAST(fb.item_cnt AS DOUBLE) / CAST(n_baskets AS DOUBLE)), 6) AS lift
FROM pairs
JOIN freq fa ON item_a = fa.item
JOIN freq fb ON item_b = fb.item
CROSS JOIN nb
WHERE pair_cnt >= CEIL(0.02 * n_baskets)
""",
    doc="Apriori-pruned frequent pair mining with association-rule metrics (support / confidence both directions / lift, 6dp doubles from exact BIGINT operands) over order baskets x part brands at 2% relative support: incidence distinct (1 shuffle) -> frequent-singleton broadcast prune (Apriori bound caps survivors at avg_basket/theta items regardless of corpus size, so the broadcast NEVER outgrows the cluster) -> pair self-join on basket over the PRUNED relation (1 shuffle) -> pair aggregate + two broadcast metric joins; monotonicity makes the prune exact, and the n_baskets scalar rides a 1-row broadcast cross join so the whole mining job is one lazy plan with no driver action",
)
def frequent_brand_pairs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.itemsets import frequent_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return frequent_pairs(joined, "l_orderkey", "p_brand", min_support=0.02)


# --------------------------------------------------------------------------
# Warehouse dimension maintenance (round 13): type-2 SCD rebuild from a
# change log in ONE key shuffle (operators/diff.py::scd2_intervals) —
# lag() detects state changes, lead() closes half-open [from, to)
# validity intervals, both windows sharing one (key, order) exchange.
# --------------------------------------------------------------------------
@register(
    "scd2_user_status_events",
    oracle="""
WITH e AS (
  SELECT user_id, event_type AS status, epoch_us(ts) AS tsu, event_id FROM events
),
m AS (
  SELECT *,
         LAG(status) OVER w AS prev,
         ROW_NUMBER() OVER w AS rn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
),
v AS (
  SELECT user_id, status, tsu AS valid_from, event_id
  FROM m WHERE rn = 1 OR prev IS DISTINCT FROM status
)
SELECT user_id, status, valid_from,
       LEAD(valid_from) OVER w2 AS valid_to,
       LEAD(valid_from) OVER w2 IS NULL AS is_current
FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
""",
    doc="type-2 slowly-changing dimension REBUILT from the event log in ONE shuffle on the business key (user_id; status = event_type, effective time = event micros, event_id tiebreak): lag() detects attribute changes (null-safe struct compare -- re-stating an unchanged state opens NO new version, the standard SCD2 ingestion dedup), lead() closes half-open [valid_from, valid_to) intervals, NULL valid_to marks the current version; both windows share one (key, order) partitioning so Catalyst plans a single exchange + sort -- vs the textbook per-batch MERGE join; incremental maintenance composes with snapshot_diff over only the affected keys",
)
def scd2_user_status_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.diff import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.col("event_type").alias("status"),
        event_micros(ev, "ts").alias("tsu"),
        "event_id",
    )
    return scd2_intervals(
        e, ["user_id"], ["status"], "tsu", tiebreak_cols=["event_id"]
    )


@register(
    "activity_streaks_events",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS seq FROM events
),
g AS (
  SELECT user_id, seq,
         seq - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq ASC) AS grp
  FROM d
),
i AS (
  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
         MIN(seq) AS start FROM g GROUP BY user_id, grp
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY len DESC, start ASC) AS rk
  FROM i
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       MIN(CASE WHEN rk = 1 THEN start END) AS longest_streak_start
FROM r GROUP BY user_id
""",
    doc="gaps-and-islands consecutive-day activity streaks per user (operators/stats.py::streak_summary): distinct (user, day) -> seq - row_number() labels consecutive runs with ZERO self-joins (the classic islands trick) -> island lengths -> per-user rollup with the earliest longest run's start; the dedup is one shuffle, the window repartitions the already-collapsed narrow relation on the key, and the island groupBy + rollup + rank all ride that same hash(user) partitioning -- heavy users cost one sort of their day list, never an array collect",
)
def activity_streaks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.stats import streak_summary

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", event_micros(ev, "ts").alias("tsu")).select(
        "user_id", F.expr(bucket_div_sql("tsu", 86400000000)).alias("day")
    )
    return streak_summary(e, ["user_id"], "day")
