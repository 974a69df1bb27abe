"""Query catalog: every implemented operator exposed as a named query
(SURVEY.md §2 inventory) with an ANSI-SQL oracle twin for differential
testing against DuckDB (SURVEY.md §5.1, driver contract).

Each query is registered by exactly one ``Query`` record in ``RECORDS``;
``QUERIES``, ``ORACLES``, ``PYTEST_ORACLES`` and ``bench.HEADLINE`` are
derived from it.

Conventions (the driver hashes values after sorting columns by name):
- every computed/aggregate column is aliased identically in the Spark plan
  and the oracle SQL;
- fine-grained double aggregates go through the engine rounding policy
  (``functions.dialect.money``) in BOTH engines so accumulation-order noise
  cannot flip the hash; coarse-group sums (rollup/grand totals, year- or
  nation-level) use exact decimal accumulation (``dialect.money_sum`` /
  ``SUM(CAST(x AS DECIMAL(28,6)))``) — order-independent at any magnitude;
- timestamps are µs, session timezone UTC in both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from lakehouse_adventureworks2022_spark.plans import (
    advanced_joins,
    dims,
    events,
    facts,
    marts,
    relational,
    scd2_query,
    semistructured,
    tpch,
    tpch_extra,
    windowed,
)
from lakehouse_adventureworks2022_spark.plans import text_queries as tq

QueryFn = Callable[[SparkSession, str], DataFrame]

#: The driver verifies only the FIRST ``DRIVER_WINDOW`` entries of
#: ``queries()`` against ``oracle_sql()``, so ordering is part of the
#: contract: the ``driver=True`` records lead ``QUERIES``.
DRIVER_WINDOW = 50


@dataclass(frozen=True)
class Query:
    """One catalog entry. Exactly one of ``oracle`` (DuckDB SQL twin) or
    ``rows_only`` (why no twin exists) is given. ``driver`` places the
    oracle in the driver's window instead of the pytest sweep
    (tests/test_rotated_oracles.py, tools/check_oracles.py);
    ``headline`` puts the query in bench.py's timed set."""

    name: str
    fn: QueryFn
    oracle: str | None = None
    rows_only: str | None = None
    driver: bool = False
    headline: bool = False

    def __post_init__(self) -> None:
        if (self.oracle is None) == (self.rows_only is None):
            raise ValueError(f"{self.name}: give exactly one of oracle= or rows_only=")
        if self.driver and self.oracle is None:
            raise ValueError(f"{self.name}: a driver-window query needs an oracle")


def _sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.streaming.events import (
        sliding_windows_batch,
    )

    return sliding_windows_batch(spark, sf_dir)


def _session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.streaming.events import (
        session_windows_batch,
    )

    return session_windows_batch(spark, sf_dir)


def _dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators.quality import null_profile
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    return null_profile(read_table(spark, sf_dir, "orders"))


def _dq_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators.quality import fk_violations
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    return fk_violations(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )


def _dq_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators.quality import (
        uniqueness_violations,
    )
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    return uniqueness_violations(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"]
    )


# DuckDB twins kept in the catalog rather than beside their plan
# builders; their exact bytes, indentation included, are pinned by
# tests/catalog_snapshot.json.
ORACLE_DIM_SUPPLIER_GEO = """
    SELECT s.s_suppkey AS supplier_key,
           s.s_name AS supplier_name,
           s.s_acctbal AS account_balance,
           n.n_name AS nation_name,
           r.r_name AS region_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
"""

ORACLE_CUSTOMER_RUNNING_REVENUE = """
        SELECT o_custkey AS customer_key,
               o_orderkey AS order_key,
               o_orderdate AS order_date,
               o_totalprice AS order_total,
               CAST(row_number() OVER w AS INT) AS order_seq,
               CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
                    AS INT) AS days_since_prev,
               ROUND(SUM(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING), 4) AS cum_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """

ORACLE_USER_HOURLY_GAPFILL = """
        WITH bounds AS (
          SELECT date_trunc('hour', MIN(ts)) AS lo,
                 date_trunc('hour', MAX(ts)) AS hi
          FROM events
        ),
        hours AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
          FROM bounds
        ),
        users AS (SELECT DISTINCT user_id FROM events),
        hourly AS (
          SELECT user_id AS a_user, date_trunc('hour', ts) AS a_hour,
                 COUNT(*) AS c, ROUND(SUM(value), 4) AS v
          FROM events GROUP BY 1, 2
        )
        SELECT u.user_id,
               h.hour_ts,
               COALESCE(hourly.c, 0) AS event_count,
               COALESCE(hourly.v, 0.0) AS total_value
        FROM users u
        CROSS JOIN hours h
        LEFT JOIN hourly ON hourly.a_user = u.user_id
                        AND hourly.a_hour = h.hour_ts
    """

ORACLE_ASOF_CLICK_ATTRIBUTION = """
        WITH tagged AS (
          SELECT event_id, user_id, ts, value,
                 CASE WHEN event_type = 'click' THEN event_id END AS click_id,
                 CASE WHEN event_type = 'click' THEN ts END AS click_ts,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase
          FROM events
          WHERE event_type IN ('click', 'purchase')
        ),
        carried AS (
          SELECT *,
                 last_value(click_id IGNORE NULLS) OVER w AS last_click_id,
                 last_value(click_ts IGNORE NULLS) OVER w AS last_click_ts
          FROM tagged
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_purchase, event_id
                       ROWS UNBOUNDED PRECEDING)
        )
        SELECT event_id AS purchase_id,
               user_id,
               ts AS purchase_ts,
               value AS purchase_value,
               last_click_id,
               last_click_ts,
               date_diff('second', last_click_ts, ts) AS seconds_since_click
        FROM carried
        WHERE is_purchase = 1
    """

ORACLE_ERROR_BURST_CONTEXT = """
        SELECT e.event_id AS error_id,
               e.user_id,
               e.ts AS error_ts,
               COUNT(*) AS prior_activity_count,
               ROUND(SUM(a.value), 4) AS prior_activity_value
        FROM events e
        JOIN events a
          ON a.user_id = e.user_id
         AND a.event_type IN ('click', 'view')
         AND a.ts > e.ts - INTERVAL 5 MINUTE
         AND a.ts <= e.ts
        WHERE e.event_type = 'error'
        GROUP BY 1, 2, 3
    """

ORACLE_SMALL_QUANTITY_PART_REVENUE = """
        WITH pa AS (
          SELECT l_partkey, AVG(l_quantity) * 0.5 AS half_avg_qty
          FROM lineitem GROUP BY 1
        )
        SELECT p.p_brand AS brand,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))), 4) AS DOUBLE) AS small_qty_revenue,
               COUNT(*) AS small_qty_lines
        FROM lineitem l
        JOIN pa ON l.l_partkey = pa.l_partkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity < pa.half_avg_qty
        GROUP BY 1
    """

# ordered-funnel conversion: earliest-chain semantics (step k = the
# first step-k event within the gap of the chosen step-(k−1) time)
ORACLE_FUNNEL_CONVERSION = """
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t
            AND e.ts <= s1.t + INTERVAL 1440 MINUTES
          GROUP BY e.user_id
        ), s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t
            AND e.ts <= s2.t + INTERVAL 1440 MINUTES
          GROUP BY e.user_id
        ), steps AS (
          SELECT '1_view' AS step, (SELECT COUNT(*) FROM s1) AS users
          UNION ALL SELECT '2_click', (SELECT COUNT(*) FROM s2)
          UNION ALL SELECT '3_purchase', (SELECT COUNT(*) FROM s3)
        )
        SELECT step, users,
               ROUND(users / (SELECT MAX(CASE WHEN step = '1_view'
                                              THEN users END) FROM steps),
                     6) AS conversion
        FROM steps
        ORDER BY step
    """

# weekly retention-cohort matrix (cohort = Monday of first event)
ORACLE_RETENTION_COHORTS = """
        WITH ev AS (
          SELECT user_id, date_trunc('week', ts) AS wk FROM events
        ), firsts AS (
          SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY user_id
        ), cells AS (
          SELECT DISTINCT e.user_id,
                 CAST(f.cohort AS DATE) AS cohort_week,
                 CAST((CAST(e.wk AS DATE) - CAST(f.cohort AS DATE)) / 7 AS INT)
                     AS week_n
          FROM ev e JOIN firsts f USING (user_id)
        ), counts AS (
          SELECT cohort_week, week_n, COUNT(*) AS active_users
          FROM cells WHERE week_n <= 8 GROUP BY cohort_week, week_n
        ), sizes AS (
          SELECT CAST(cohort AS DATE) AS cohort_week, COUNT(*) AS cohort_size
          FROM firsts GROUP BY 1
        )
        SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week, c.week_n,
               c.active_users, s.cohort_size,
               ROUND(c.active_users / CAST(s.cohort_size AS DOUBLE), 6)
                   AS retention
        FROM counts c JOIN sizes s USING (cohort_week)
        ORDER BY cohort_week, week_n
    """

ORACLE_DIM_DATE = """
        WITH spine AS (
          SELECT CAST(full_ts AS DATE) AS d
          FROM generate_series(TIMESTAMP '2010-01-01', TIMESTAMP '2029-12-31',
                               INTERVAL 1 DAY) t(full_ts)
        )
        SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
               CAST(d AS TIMESTAMP) AS full_date,
               CAST(year(d) AS INT) AS year,
               CAST(quarter(d) AS INT) AS quarter,
               CAST(month(d) AS INT) AS month,
               monthname(d) AS month_name,
               strftime(d, '%b') AS month_abbr,
               CAST(day(d) AS INT) AS day_of_month,
               CAST(dayofyear(d) AS INT) AS day_of_year,
               CAST(weekofyear(d) AS INT) AS week_of_year,
               CAST(isodow(d) AS INT) AS day_of_week,
               dayname(d) AS day_name,
               strftime(d, '%a') AS day_abbr,
               isodow(d) IN (6, 7) AS is_weekend,
               CAST(year(d) + CASE WHEN month(d) >= 7 THEN 1 ELSE 0 END AS INT) AS fiscal_year,
               CAST(((month(d) + 5) % 12) // 3 + 1 AS INT) AS fiscal_quarter,
               CAST(((month(d) + 5) % 12) + 1 AS INT) AS fiscal_month
        FROM spine
    """

ORACLE_INCREMENTAL_READ = """
        SELECT event_type,
               COUNT(*) AS event_count,
               MAX(ts) AS max_ts,
               MAX(event_id) AS last_event_id,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type
    """

ORACLE_WATERMARK_STATE = """
        SELECT COALESCE(MAX(event_id), 0) AS last_id,
               MAX(ts) AS last_event_time,
               COUNT(*) AS record_count
        FROM events
    """

ORACLE_FLATTEN_PROPS = """
        SELECT event_id,
               user_id,
               ts,
               CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
               value
        FROM events
        WHERE event_type = 'purchase'
    """

ORACLE_DQ_NULL_PROFILE = """
        WITH n AS (SELECT COUNT(*) AS total FROM orders)
        SELECT c.column_name,
               c.null_count,
               CAST(c.null_count AS DOUBLE) / n.total AS null_ratio
        FROM n, (
          SELECT 'o_orderkey' AS column_name,
                 COUNT(*) FILTER (o_orderkey IS NULL) AS null_count FROM orders
          UNION ALL SELECT 'o_custkey',
                 COUNT(*) FILTER (o_custkey IS NULL) FROM orders
          UNION ALL SELECT 'o_orderstatus',
                 COUNT(*) FILTER (o_orderstatus IS NULL) FROM orders
          UNION ALL SELECT 'o_totalprice',
                 COUNT(*) FILTER (o_totalprice IS NULL) FROM orders
          UNION ALL SELECT 'o_orderdate',
                 COUNT(*) FILTER (o_orderdate IS NULL) FROM orders
          UNION ALL SELECT 'o_orderpriority',
                 COUNT(*) FILTER (o_orderpriority IS NULL) FROM orders
        ) c
    """

ORACLE_DQ_ORDERKEY_INTEGRITY = """
        SELECT DISTINCT l.l_orderkey AS orphan_key
        FROM lineitem l
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
        )
    """

ORACLE_DQ_LINEITEM_PK = """
        SELECT l_orderkey, l_linenumber, COUNT(*) AS dup_count
        FROM lineitem
        GROUP BY 1, 2
        HAVING COUNT(*) > 1
    """

ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
        SELECT c.c_custkey AS customer_key,
               c.c_name AS customer_name,
               c.c_mktsegment AS market_segment
        FROM customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
        )
    """

ORACLE_REPEAT_CUSTOMERS = """
        SELECT c.c_custkey AS customer_key,
               c.c_name AS customer_name
        FROM customer c
        WHERE c.c_custkey IN (
          SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 10
        )
    """

ORACLE_REVENUE_GROUPING_SETS = """
        SELECT r.r_name AS region_name,
               c.c_mktsegment AS market_segment,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE)
                 AS total_revenue,
               COUNT(*) AS line_count,
               CAST(GROUPING(r.r_name, c.c_mktsegment) AS INT)
                 AS grouping_level
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment), ())
    """

ORACLE_EVENT_WINDOWS_SLIDING = """
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - k.i * (INTERVAL '15 minutes') AS window_start,
               event_type,
               COUNT(*) AS event_count,
               ROUND(SUM(value), 4) AS total_value
        FROM events, range(4) k(i)
        GROUP BY 1, 2
    """

ORACLE_PRIORITY_REVENUE_SHARE = """
        WITH per AS (
          SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                 o_orderpriority AS order_priority,
                 CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
                 COUNT(*) AS order_count
          FROM orders GROUP BY 1, 2
        )
        SELECT order_year, order_priority, revenue, order_count,
               ROUND(revenue / SUM(revenue) OVER (PARTITION BY order_year), 6)
                 AS revenue_share
        FROM per
    """

ORACLE_DIM_CUSTOMER_GEO = """
        SELECT c.c_custkey AS customer_key,
               c.c_name AS customer_name,
               c.c_mktsegment AS market_segment,
               c.c_acctbal AS account_balance,
               n.n_nationkey AS nation_key,
               n.n_name AS nation_name,
               r.r_regionkey AS region_key,
               r.r_name AS region_name
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    """

ORACLE_FACT_SALES = """
        SELECT l.l_orderkey AS order_key,
               l.l_linenumber AS line_number,
               l.l_partkey AS product_key,
               l.l_suppkey AS supplier_key,
               o.o_custkey AS customer_key,
               o.o_orderstatus AS order_status,
               o.o_orderpriority AS order_priority,
               CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS order_date_key,
               CAST(strftime(l.l_shipdate, '%Y%m%d') AS INT) AS ship_date_key,
               l.l_quantity AS order_qty,
               l.l_extendedprice AS unit_price_ext,
               l.l_discount AS discount,
               l.l_tax AS tax,
               l.l_extendedprice * (1 - l.l_discount) AS line_total,
               l.l_returnflag AS return_flag,
               l.l_linestatus AS line_status
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """

ORACLE_LATEST_EVENT_PER_USER = """
        SELECT event_id, ts, user_id, event_type, value
        FROM (
          SELECT e.*, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events e
        )
        WHERE rn = 1
    """

ORACLE_TPCH_Q1 = """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))), 6) AS DOUBLE)
                 AS sum_charge,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) / COUNT(*) AS avg_price,
               CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(28,6))), 2) AS DOUBLE) / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

ORACLE_TPCH_Q3 = """
        SELECT l.l_orderkey AS order_key,
               o.o_orderdate AS order_date,
               o.o_orderpriority AS order_priority,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_shipdate > TIMESTAMP '1998-06-15'
          AND o.o_orderdate < TIMESTAMP '1998-06-15'
          AND c.c_mktsegment = 'BUILDING'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, order_key ASC
        LIMIT 10
    """

ORACLE_SILVER_LINEITEM_ENRICHED = """
        SELECT l.l_orderkey AS order_key,
               l.l_linenumber AS line_number,
               o.o_orderstatus AS order_status,
               p.p_name AS product_name,
               p.p_brand AS product_brand,
               p.p_type AS product_type,
               s.s_name AS supplier_name,
               l.l_quantity AS quantity,
               l.l_extendedprice AS extended_price,
               l.l_extendedprice * (1 - l.l_discount) AS net_price
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """

ORACLE_EVENT_VALUE_STATS = """
        SELECT event_type,
               COUNT(*) AS n,
               MIN(value) AS min_value,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99,
               MAX(value) AS max_value,
               stddev_samp(value) AS stddev_value
        FROM events
        GROUP BY event_type
    """

ORACLE_TOP_PRODUCTS = """
        SELECT p.p_partkey, p.p_name, p.p_brand,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_revenue,
               ROUND(SUM(l.l_quantity), 4) AS total_qty,
               COUNT(DISTINCT l.l_orderkey) AS order_count
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_partkey, p.p_name, p.p_brand
        ORDER BY total_revenue DESC, p.p_partkey ASC
        LIMIT 10
    """

ORACLE_SALES_SUMMARY = """
        SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
               o.o_orderpriority AS order_priority,
               r.r_name AS region_name,
               n.n_name AS nation_name,
               c.c_mktsegment AS market_segment,
               l.l_returnflag AS return_flag,
               l.l_linestatus AS line_status,
               COUNT(DISTINCT o.o_orderkey) AS order_count,
               COUNT(*) AS line_count,
               CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_qty,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_revenue,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * l.l_discount AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_discount_amount,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) / COUNT(*) AS avg_unit_price_ext
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2, 3, 4, 5, 6, 7
    """

ORACLE_EVENT_WINDOWS = """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS event_count,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        GROUP BY 1, 2
    """

ORACLE_TPCH_Q5 = """
        SELECT n.n_name AS nation_name,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
    """

ORACLE_TPCH_Q8_MARKET_SHARE = """
        SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
               CAST(ROUND(SUM(CAST(CASE WHEN sn.n_name = 'CHINA' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END AS DECIMAL(28,6))), 4) AS DOUBLE) AS china_revenue,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_revenue,
               ROUND(CAST(ROUND(SUM(CAST(CASE WHEN sn.n_name = 'CHINA' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END AS DECIMAL(28,6))), 4) AS DOUBLE) / CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE), 6) AS market_share
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1
    """

ORACLE_LATE_SHIPMENT_PRIORITY = """
        SELECT o.o_orderpriority AS order_priority,
               COUNT(*) AS late_order_count
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY 1
    """

ORACLE_SALES_ROLLUP = """
        SELECT r.r_name AS region_name,
               n.n_name AS nation_name,
               c.c_mktsegment AS market_segment,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_revenue,
               CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_qty,
               COUNT(*) AS line_count,
               CAST(GROUPING(r.r_name, n.n_name, c.c_mktsegment) AS INT)
                 AS grouping_level
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP (r.r_name, n.n_name, c.c_mktsegment)
    """

ORACLE_EVENT_SESSIONS = """
        WITH o AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
        ),
        s AS (
          SELECT *, SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, value
                   ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM o
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS event_count,
               ROUND(SUM(value), 4) AS total_value
        FROM s
        GROUP BY user_id, sess_id
    """

ORACLE_CUSTOMER_ORDER_DISTRIBUTION = """
        SELECT order_count, COUNT(*) AS customer_count
        FROM (
          SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_count
          FROM customer c
          LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority = '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY order_count
    """

ORACLE_NATION_TOP_CUSTOMERS = """
        SELECT * FROM (
          SELECT n.n_name AS nation_name,
                 c.c_custkey AS customer_key,
                 c.c_name AS customer_name,
                 per.revenue,
                 CAST(dense_rank() OVER (
                        PARTITION BY n.n_name
                        ORDER BY per.revenue DESC, c.c_custkey ASC)
                      AS INT) AS revenue_rank
          FROM (SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS revenue
                FROM orders GROUP BY o_custkey) per
          JOIN customer c ON per.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
        ) WHERE revenue_rank <= 3
    """

# SCD2 point-in-time enrichment: the dim is rebuilt from the same
# synthetic two-batch history scd2_part_dimension applies, then each
# fact's audit instant BETWEEN-joins to its valid version (the Spark
# side uses the union + running-last PIT join — no inequality join)
ORACLE_SCD2_PART_PRICE_ASOF = """
        WITH b1 AS (
          SELECT p_partkey, p_retailprice FROM part WHERE p_partkey % 13 <> 0
        ), b2 AS (
          SELECT p_partkey,
                 CASE WHEN p_partkey % 7 = 0 THEN p_retailprice + 1.0
                      ELSE p_retailprice END AS p_retailprice
          FROM part
        ), dim AS (
          SELECT b1.p_partkey, b1.p_retailprice,
                 TIMESTAMP '2024-01-01' AS eff,
                 CASE WHEN b2.p_retailprice <> b1.p_retailprice
                      THEN TIMESTAMP '2024-02-01' END AS exp
          FROM b1 JOIN b2 USING (p_partkey)
          UNION ALL
          SELECT b2.p_partkey, b2.p_retailprice, TIMESTAMP '2024-02-01', NULL
          FROM b2 JOIN b1 USING (p_partkey)
          WHERE b2.p_retailprice <> b1.p_retailprice
          UNION ALL
          SELECT b2.p_partkey, b2.p_retailprice, TIMESTAMP '2024-02-01', NULL
          FROM b2 WHERE b2.p_partkey % 13 = 0
        ), facts AS (
          SELECT l_orderkey, l_linenumber, l_partkey AS p_partkey,
                 TIMESTAMP '2024-01-01'
                   + INTERVAL 1 DAY * (l_orderkey % 60) AS audit_ts
          FROM lineitem
        )
        SELECT f.l_orderkey, f.l_linenumber, f.p_partkey,
               CAST(f.audit_ts AS VARCHAR) AS audit_ts,
               d.p_retailprice
        FROM facts f LEFT JOIN dim d
          ON f.p_partkey = d.p_partkey
         AND f.audit_ts >= d.eff
         AND (d.exp IS NULL OR f.audit_ts < d.exp)
    """


RECORDS: tuple[Query, ...] = (
    # ---- the driver window: hash-checked by the driver itself ----
    Query("tpch_q22_idle_balances", tpch_extra.q22_idle_balances,
        oracle=tpch_extra.ORACLE_TPCH_Q22_IDLE_BALANCES, driver=True, headline=True),
    Query("tpch_q11_important_parts", tpch_extra.q11_important_parts,
        oracle=tpch_extra.ORACLE_TPCH_Q11_IMPORTANT_PARTS, driver=True, headline=True),
    Query("tpch_q4_priority_check", tpch_extra.q4_priority_check,
        oracle=tpch_extra.ORACLE_TPCH_Q4_PRIORITY_CHECK, driver=True),
    Query("tpch_q15_top_supplier", tpch_extra.q15_top_supplier,
        oracle=tpch_extra.ORACLE_TPCH_Q15_TOP_SUPPLIER, driver=True),
    Query("docs_dsir_weights", tq.q_docs_dsir_weights,
        oracle=tq.ORACLE_DOCS_DSIR_WEIGHTS, driver=True, headline=True),
    Query("source_overlap_matrix", tq.q_source_overlap,
        oracle=tq.ORACLE_SOURCE_OVERLAP, driver=True, headline=True),
    Query("html_extract", tq.q_html_extract,
        oracle=tq.ORACLE_HTML_EXTRACT, driver=True, headline=True),
    Query("corpus_zipf", tq.q_corpus_zipf,
        oracle=tq.ORACLE_CORPUS_ZIPF, driver=True, headline=True),
    Query("doc_readability", tq.q_doc_readability,
        oracle=tq.ORACLE_DOC_READABILITY, driver=True, headline=True),
    Query("cdx_urlkey", tq.q_cdx_urlkey, oracle=tq.ORACLE_CDX_URLKEY, driver=True, headline=True),
    Query("scd2_part_dimension", scd2_query.scd2_part_dimension,
        oracle=scd2_query.ORACLE, driver=True, headline=True),
    Query("docs_epoch_mixture", tq.q_docs_epoch_mixture,
        oracle=tq.ORACLE_DOCS_EPOCH_MIXTURE, driver=True, headline=True),
    Query("url_canonicalize", tq.q_url_canonicalize,
        oracle=tq.ORACLE_URL_CANONICALIZE, driver=True, headline=True),
    Query("warc_ingest", tq.q_warc_ingest,
        oracle=tq.ORACLE_WARC_INGEST, driver=True, headline=True),
    Query("crawl_frontier", tq.q_crawl_frontier,
        oracle=tq.ORACLE_CRAWL_FRONTIER, driver=True, headline=True),
    Query("dedup_minhash_lsh", tq.q_minhash_lsh,
        oracle=tq.ORACLE_MINHASH_LSH, driver=True, headline=True),
    Query("sitemap_extract", tq.q_sitemap_extract,
        oracle=tq.ORACLE_SITEMAP_EXTRACT, driver=True, headline=True),
    Query("wet_ingest", tq.q_wet_ingest, oracle=tq.ORACLE_WET_INGEST, driver=True, headline=True),
    Query("docs_sample_exact_n", tq.q_docs_sample_exact_n,
        oracle=tq.ORACLE_DOCS_SAMPLE_EXACT_N, driver=True),
    Query("warc_revisit_digest", tq.q_warc_revisit_digest,
        oracle=tq.ORACLE_WARC_REVISIT_DIGEST, driver=True, headline=True),
    Query("sitemap_lastmod", tq.q_sitemap_lastmod,
        oracle=tq.ORACLE_SITEMAP_LASTMOD, driver=True, headline=True),
    Query("robots_sitemap_discovery", tq.q_robots_sitemap_discovery,
        oracle=tq.ORACLE_ROBOTS_SITEMAP_DISCOVERY, driver=True, headline=True),
    Query("outlink_extract", tq.q_outlink_extract,
        oracle=tq.ORACLE_OUTLINK_EXTRACT, driver=True, headline=True),
    Query("dq_expectations_orders", relational.dq_expectations_orders,
        oracle=relational.ORACLE_DQ_EXPECTATIONS_ORDERS, driver=True, headline=True),
    Query("embedding_drift", tq.q_embedding_drift, oracle=tq.ORACLE_EMBEDDING_DRIFT, driver=True),
    Query("event_anomalies", tq.q_event_anomalies,
        oracle=tq.ORACLE_EVENT_ANOMALIES, driver=True, headline=True),
    Query("eval_decontamination", tq.q_eval_decontamination,
        oracle=tq.ORACLE_EVAL_DECONTAMINATION, driver=True, headline=True),
    Query("eval_decontamination_fuzzy", tq.q_eval_decontamination_fuzzy,
        oracle=tq.ORACLE_EVAL_DECONTAMINATION_FUZZY, driver=True, headline=True),
    Query("perplexity_quality_buckets", tq.q_perplexity_quality_buckets,
        oracle=tq.ORACLE_PERPLEXITY_QUALITY_BUCKETS, driver=True, headline=True),
    Query("tpch_q2_min_balance_supplier", tpch_extra.q2_min_balance_supplier,
        oracle=tpch_extra.ORACLE_TPCH_Q2_MIN_BALANCE_SUPPLIER, driver=True, headline=True),
    Query("tpch_q9_product_profit", tpch_extra.q9_product_profit,
        oracle=tpch_extra.ORACLE_TPCH_Q9_PRODUCT_PROFIT, driver=True, headline=True),
    Query("tpch_q18_large_orders", tpch_extra.q18_large_orders,
        oracle=tpch_extra.ORACLE_TPCH_Q18_LARGE_ORDERS, driver=True),
    Query("tpch_q20_excess_shippers", tpch_extra.q20_excess_shippers,
        oracle=tpch_extra.ORACLE_TPCH_Q20_EXCESS_SHIPPERS, driver=True),
    Query("tpch_q21_waiting_suppliers", tpch_extra.q21_waiting_suppliers,
        oracle=tpch_extra.ORACLE_TPCH_Q21_WAITING_SUPPLIERS, driver=True, headline=True),
    Query("tpch_q19_disjunctive_revenue", tpch_extra.q19_disjunctive_revenue,
        oracle=tpch_extra.ORACLE_TPCH_Q19_DISJUNCTIVE_REVENUE, driver=True),
    Query("tpch_q12_shipping_delay_bands", tpch_extra.q12_shipping_delay_bands,
        oracle=tpch_extra.ORACLE_TPCH_Q12_SHIPPING_DELAY_BANDS, driver=True),
    Query("tpch_q16_supplier_count_by_part", tpch_extra.q16_supplier_count_by_part,
        oracle=tpch_extra.ORACLE_TPCH_Q16_SUPPLIER_COUNT_BY_PART, driver=True),
    Query("cdc_upsert", facts.q_cdc_upsert,
        oracle=facts.ORACLE_CDC_UPSERT, driver=True, headline=True),
    Query("normalize_text", tq.q_normalize_text,
        oracle=tq.ORACLE_NORMALIZE_TEXT, driver=True, headline=True),
    Query("domain_census", tq.q_domain_census,
        oracle=tq.ORACLE_DOMAIN_CENSUS, driver=True, headline=True),
    Query("docs_capped_per_source", tq.q_docs_capped_per_source,
        oracle=tq.ORACLE_DOCS_CAPPED_PER_SOURCE, driver=True, headline=True),
    Query("customer_running_revenue", windowed.customer_running_revenue,
        oracle=ORACLE_CUSTOMER_RUNNING_REVENUE, driver=True, headline=True),
    Query("user_value_moving_stats", tpch_extra.user_value_moving_stats,
        oracle=tpch_extra.ORACLE_USER_VALUE_MOVING_STATS, driver=True),
    Query("user_hourly_gapfill", events.user_hourly_gapfill,
        oracle=ORACLE_USER_HOURLY_GAPFILL, driver=True),
    Query("asof_click_attribution", advanced_joins.asof_click_attribution,
        oracle=ORACLE_ASOF_CLICK_ATTRIBUTION, driver=True, headline=True),
    Query("error_burst_context", advanced_joins.error_burst_context,
        oracle=ORACLE_ERROR_BURST_CONTEXT, driver=True, headline=True),
    Query("small_quantity_part_revenue", advanced_joins.small_quantity_part_revenue,
        oracle=ORACLE_SMALL_QUANTITY_PART_REVENUE, driver=True, headline=True),
    Query("funnel_conversion", relational.funnel_conversion,
        oracle=ORACLE_FUNNEL_CONVERSION, driver=True, headline=True),
    Query("retention_cohorts", relational.retention_cohorts,
        oracle=ORACLE_RETENTION_COHORTS, driver=True, headline=True),
    Query("host_link_graph", tq.q_host_link_graph,
        oracle=tq.ORACLE_HOST_LINK_GRAPH, driver=True, headline=True),
    # ---- past the window: oracle-backed queries are hash-checked at two
    # SFs in tests/test_rotated_oracles.py and by tools/check_oracles.py;
    # rows_only ones are checked for rows when the driver reaches them ----
    Query("dim_date", lambda spark, sf_dir: dims.build_dim_date(spark),
        oracle=ORACLE_DIM_DATE, headline=True),
    Query("incremental_read", events.incremental_read,
        oracle=ORACLE_INCREMENTAL_READ, headline=True),
    Query("watermark_state", events.watermark_state, oracle=ORACLE_WATERMARK_STATE),
    Query("flatten_props", events.flatten_props, oracle=ORACLE_FLATTEN_PROPS, headline=True),
    Query("doc_fingerprint", tq.q_fingerprint, oracle=tq.ORACLE_FINGERPRINT),
    Query("dq_null_profile", _dq_null_profile, oracle=ORACLE_DQ_NULL_PROFILE),
    Query("dq_orderkey_integrity", _dq_fk, oracle=ORACLE_DQ_ORDERKEY_INTEGRITY),
    Query("dq_lineitem_pk", _dq_pk, oracle=ORACLE_DQ_LINEITEM_PK),
    Query("token_counts", tq.q_token_counts, oracle=tq.ORACLE_TOKEN_COUNTS),
    Query("lang_id", tq.q_lang_id, oracle=tq.ORACLE_LANG_ID),
    Query("customers_without_orders", relational.customers_without_orders,
        oracle=ORACLE_CUSTOMERS_WITHOUT_ORDERS),
    Query("repeat_customers", relational.repeat_customers, oracle=ORACLE_REPEAT_CUSTOMERS),
    Query("user_churn_set_ops", semistructured.user_churn_set_ops,
        oracle=semistructured.ORACLE_USER_CHURN),
    Query("daily_event_pivot", semistructured.daily_event_pivot,
        oracle=semistructured.ORACLE_DAILY_PIVOT),
    Query("tpch_q6_forecast_revenue", tpch_extra.q6_forecast_revenue,
        oracle=tpch_extra.ORACLE_TPCH_Q6_FORECAST_REVENUE),
    Query("top_products_approx", marts.top_products_approx, rows_only="HLL distinct count"),
    Query("event_value_stats_approx", relational.event_value_stats_approx,
        rows_only="t-digest percentiles"),
    Query("dedup_embedding_cosine", tq.q_embedding_near_dup_lsh,
        rows_only="SRP-LSH candidates: recall < 1 by design"),
    Query("ann_cosine_topk_np", tq.q_ann_cosine_np,
        rows_only="GEMM float-sum order ≠ sequential fold", headline=True),
    Query("ann_cosine_topk_lsh", tq.q_ann_cosine_lsh,
        rows_only="single-probe LSH: recall < 1 by design"),
    Query("ann_cosine_topk_ivf", tq.q_ann_cosine_ivf,
        rows_only="n_probe-cell IVF: recall < 1 by design", headline=True),
    Query("ann_cosine_topk_ivf_amortized", tq.q_ann_cosine_ivf_amortized,
        rows_only="same IVF result via persisted index", headline=True),
    Query("dedup_ngram_jaccard_exact", tq.q_ngram_jaccard, oracle=tq.ORACLE_NGRAM_JACCARD),
    Query("clean_corpus", tq.q_clean_corpus, oracle=tq.ORACLE_CLEAN_CORPUS, headline=True),
    Query("revenue_grouping_sets", relational.revenue_grouping_sets,
        oracle=ORACLE_REVENUE_GROUPING_SETS),
    Query("corpus_report", tq.q_corpus_report, oracle=tq.ORACLE_CORPUS_REPORT),
    Query("event_windows_sliding", _sliding_windows, oracle=ORACLE_EVENT_WINDOWS_SLIDING),
    Query("priority_revenue_share", windowed.priority_revenue_share,
        oracle=ORACLE_PRIORITY_REVENUE_SHARE),
    Query("dim_customer_geo", dims.build_dim_customer_geo, oracle=ORACLE_DIM_CUSTOMER_GEO),
    Query("fact_sales", facts.build_fact_sales, oracle=ORACLE_FACT_SALES, headline=True),
    Query("latest_event_per_user", events.latest_event_per_user,
        oracle=ORACLE_LATEST_EVENT_PER_USER, headline=True),
    Query("dedup_exact", tq.q_dedup_exact, oracle=tq.ORACLE_DEDUP_EXACT),
    Query("tpch_q1", tpch.tpch_q1, oracle=ORACLE_TPCH_Q1, headline=True),
    Query("tpch_q3", tpch.tpch_q3, oracle=ORACLE_TPCH_Q3),
    Query("silver_lineitem_enriched", tpch.silver_lineitem_enriched,
        oracle=ORACLE_SILVER_LINEITEM_ENRICHED, headline=True),
    Query("event_value_stats", relational.event_value_stats, oracle=ORACLE_EVENT_VALUE_STATS),
    Query("xml_roundtrip", semistructured.xml_roundtrip,
        oracle=semistructured.ORACLE_XML_ROUNDTRIP),
    Query("top_products", marts.top_products, oracle=ORACLE_TOP_PRODUCTS, headline=True),
    Query("sales_summary", marts.sales_summary, oracle=ORACLE_SALES_SUMMARY, headline=True),
    Query("event_windows", events.event_windows, oracle=ORACLE_EVENT_WINDOWS, headline=True),
    Query("tpch_q5", tpch.tpch_q5, oracle=ORACLE_TPCH_Q5, headline=True),
    Query("tpch_q8_market_share", tpch.tpch_q8_market_share,
        oracle=ORACLE_TPCH_Q8_MARKET_SHARE, headline=True),
    Query("late_shipment_priority", advanced_joins.late_shipment_priority,
        oracle=ORACLE_LATE_SHIPMENT_PRIORITY),
    Query("incremental_dedup", tq.q_incremental_dedup,
        rows_only="signature-estimated verify: approx by design", headline=True),
    Query("packed_corpus", tq.q_packed_corpus, rows_only="exact; end-to-end invariants in pytest"),
    Query("quality_classifier", tq.q_quality_classifier,
        rows_only="learned scores: no SQL twin", headline=True),
    Query("shuffle_corpus", tq.q_shuffle_corpus, rows_only="exact; xxhash64 has no DuckDB twin"),
    Query("ann_cosine_topk_pq", tq.q_ann_cosine_pq,
        rows_only="PQ quantization: recall < 1 by design", headline=True),
    Query("ann_cosine_topk_ivf_pq", tq.q_ann_cosine_ivf_pq,
        rows_only="probe-pruned IVF-PQ: recall < 1"),
    Query("ann_cosine_topk_pq_amortized", tq.q_ann_cosine_pq_amortized,
        rows_only="≡ one-shot PQ via saved index", headline=True),
    Query("semdedup_prune", tq.q_semdedup,
        rows_only="k-means clustering: no SQL twin", headline=True),
    Query("rag_retrieval", tq.q_rag_retrieval,
        rows_only="IVF probe pruning: recall < 1 by design", headline=True),
    Query("bpe_tokenize", tq.q_bpe_tokenize,
        rows_only="exact; merge loop has no SQL twin", headline=True),
    Query("rag_retrieval_amortized", tq.q_rag_retrieval_amortized,
        rows_only="≡ one-shot retrieval via saved index", headline=True),
    Query("clean_assets", tq.q_clean_assets,
        rows_only="binary assets have no oracle tables", headline=True),
    Query("hard_negatives", tq.q_hard_negatives,
        rows_only="IVF probing: approximate by design", headline=True),
    Query("hybrid_retrieval", tq.q_hybrid_retrieval,
        rows_only="IVF leg: approximate by design", headline=True),
    Query("unigram_tokenize", tq.q_unigram_tokenize, rows_only="exact; EM loop has no SQL twin"),
    Query("sales_rollup", relational.sales_rollup, oracle=ORACLE_SALES_ROLLUP, headline=True),
    Query("event_sessions", _session_windows, oracle=ORACLE_EVENT_SESSIONS, headline=True),
    Query("customer_order_distribution", relational.customer_order_distribution,
        oracle=ORACLE_CUSTOMER_ORDER_DISTRIBUTION, headline=True),
    Query("nation_top_customers", windowed.nation_top_customers,
        oracle=ORACLE_NATION_TOP_CUSTOMERS),
    Query("kll_value_quantiles", tq.q_kll_quantiles,
        rows_only="KLL sketch: rank-bounded approx by design", headline=True),
    Query("audience_overlap", relational.audience_overlap,
        rows_only="KMV/theta set estimates: approx by design", headline=True),
    Query("ann_cosine_topk_sq8", tq.q_ann_cosine_sq8,
        rows_only="SQ8 shortlist: approx by design", headline=True),
    Query("ann_cosine_topk_ivf_sq8", tq.q_ann_cosine_ivf_sq8,
        rows_only="probe-pruned SQ8: approx by design", headline=True),
    Query("ann_cosine_topk_ivf_sq8_amortized", tq.q_ann_cosine_ivf_sq8_amortized,
        rows_only="≡ one-shot via saved index", headline=True),
    Query("ann_cosine_topk_sq8_amortized", tq.q_ann_cosine_sq8_amortized,
        rows_only="≡ one-shot SQ8 via saved index", headline=True),
    Query("video_frame_harvest", tq.q_video_frame_harvest,
        rows_only="binary video assets have no oracle tables", headline=True),
    Query("video_frame_harvest_amortized", tq.q_video_frame_harvest_amortized,
        rows_only="≡ one-shot via persisted corpus", headline=True),
    Query("video_keyframe_dedup", tq.q_video_keyframe_dedup,
        rows_only="binary video assets have no oracle tables", headline=True),
    Query("text_stats", tq.q_text_stats, oracle=tq.ORACLE_TEXT_STATS, headline=True),
    Query("ann_cosine_topk", tq.q_ann_cosine, oracle=tq.ORACLE_ANN_COSINE),
    Query("tpch_q7_nation_volume", tpch_extra.q7_nation_volume,
        oracle=tpch_extra.ORACLE_TPCH_Q7_NATION_VOLUME),
    Query("tpch_q10_returned_items", tpch_extra.q10_returned_items,
        oracle=tpch_extra.ORACLE_TPCH_Q10_RETURNED_ITEMS),
    Query("tpch_q14_promo_revenue_ratio", tpch_extra.q14_promo_revenue_ratio,
        oracle=tpch_extra.ORACLE_TPCH_Q14_PROMO_REVENUE_RATIO),
    Query("ivf_sq8_index_ingest", tq.q_ivf_sq8_index_ingest,
        rows_only="probe-pruned ANN: approx by design", headline=True),
    Query("rag_index_ingest", tq.q_rag_index_ingest,
        rows_only="probe-pruned ANN: approx by design", headline=True),
    Query("incremental_dedup_bloom", tq.q_incremental_dedup_bloom,
        rows_only="≡ incremental_dedup: approx by design", headline=True),
    Query("web_corpus_pipeline", tq.q_web_corpus_pipeline,
        rows_only="LSH near-dup stage: approx by design", headline=True),
    Query("corpus_vocabulary", tq.q_corpus_vocabulary,
        oracle=tq.ORACLE_CORPUS_VOCABULARY, headline=True),
    Query("heavy_hitters_event_types", tq.q_heavy_hitters,
        oracle=tq.ORACLE_HEAVY_HITTERS, headline=True),
    Query("dedup_simhash", tq.q_simhash, oracle=tq.ORACLE_SIMHASH),
    Query("docs_hash_sample", tq.q_docs_hash_sample, oracle=tq.ORACLE_DOCS_HASH_SAMPLE),
    Query("dim_supplier_geo", dims.build_dim_supplier_geo, oracle=ORACLE_DIM_SUPPLIER_GEO),
    Query("chunk_documents", tq.q_chunk_documents,
        oracle=tq.ORACLE_CHUNK_DOCUMENTS, headline=True),
    Query("temperature_mixture", tq.q_temperature_mixture,
        oracle=tq.ORACLE_TEMPERATURE_MIXTURE, headline=True),
    Query("dedup_clusters", tq.q_dedup_clusters, oracle=tq.ORACLE_DEDUP_CLUSTERS),
    Query("ngram_repetition", tq.q_ngram_repetition, oracle=tq.ORACLE_NGRAM_REPETITION),
    Query("doc_perplexity", tq.q_doc_perplexity, oracle=tq.ORACLE_DOC_PERPLEXITY, headline=True),
    Query("host_pagerank", tq.q_host_pagerank,
        rows_only="iterative float fixpoint: no SQL twin", headline=True),
    Query("host_authority", tq.q_host_authority, oracle=tq.ORACLE_HOST_AUTHORITY, headline=True),
    Query("crawl_politeness", tq.q_crawl_politeness,
        oracle=tq.ORACLE_CRAWL_POLITENESS, headline=True),
    Query("crawl_health", tq.q_crawl_health, oracle=tq.ORACLE_CRAWL_HEALTH, headline=True),
    Query("warc_random_access", tq.q_warc_random_access,
        oracle=tq.ORACLE_WARC_RANDOM_ACCESS, headline=True),
    Query("frontier_refresh", tq.q_frontier_refresh,
        oracle=tq.ORACLE_FRONTIER_REFRESH, headline=True),
    Query("remove_repeated_spans", tq.q_remove_repeated_spans,
        oracle=tq.ORACLE_REMOVE_REPEATED_SPANS, headline=True),
    Query("clean_boilerplate", tq.q_clean_boilerplate,
        oracle=tq.ORACLE_CLEAN_BOILERPLATE, headline=True),
    Query("docs_stratified_sample", tq.q_docs_stratified_sample,
        oracle=tq.ORACLE_DOCS_STRATIFIED_SAMPLE),
    Query("corpus_drift", tq.q_corpus_drift, oracle=tq.ORACLE_CORPUS_DRIFT),
    Query("pii_scrub", tq.q_pii_scrub, oracle=tq.ORACLE_PII_SCRUB, headline=True),
    Query("scd2_part_price_asof", scd2_query.scd2_part_price_asof,
        oracle=ORACLE_SCD2_PART_PRICE_ASOF, headline=True),
)

if sum(r.driver for r in RECORDS) > DRIVER_WINDOW:
    raise ValueError(
        f"more than {DRIVER_WINDOW} driver=True records: the driver would "
        f"silently skip the oracles past its window"
    )

QUERIES: dict[str, QueryFn] = {
    r.name: r.fn for r in sorted(RECORDS, key=lambda r: not r.driver)
}
ORACLES: dict[str, str] = {r.name: r.oracle for r in RECORDS if r.driver}
PYTEST_ORACLES: dict[str, str] = {
    r.name: r.oracle for r in RECORDS if r.oracle is not None and not r.driver
}
