"""DuckDB oracle SQL for every declared query in queries.py.

These run verbatim in DuckDB against the same parquet tables (views
pre-registered by the driver). Column aliases match the Spark side exactly;
per-engine function-name differences (json_extract / len) are mapped here
as allowed by SURVEY.md §2.D — values must still hash-match.
"""

# Entries whose oracle literals were computed against ONE fixed dataset:
# name → the sf dir the VALUES were derived from (always the driver's
# compare scale, /root/testdata/sf0.01).  Local harnesses (tests/
# test_queries.py, tests/sweep_vanilla.py) compare these entries at the
# pinned dir instead of the sweep scale; see plans/values_oracle.py.
ORACLE_SF: dict[str, str] = {}

ORACLE: dict[str, str] = {
    "q1_scan_filter_sort": """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_quantity > 45
        ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100
    """,
    "q2_predicates": """
        SELECT o_orderkey FROM orders
        WHERE o_totalprice BETWEEN 1000 AND 2000
          AND o_orderstatus IN ('O','F')
          AND o_orderpriority LIKE '1%'
        ORDER BY o_orderkey
    """,
    "q3_hash_agg_having": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
                    AS DOUBLE) AS revenue,
               COUNT(*) AS cnt
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        HAVING COUNT(*) > 10
        ORDER BY l_returnflag, l_linestatus
    """,
    "q4_multiway_join": """
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
                    AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
    """,
    "q5_left_join": """
        SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
        ORDER BY order_cnt DESC, c_custkey LIMIT 100
    """,
    "q6_semi_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 5000)
        ORDER BY c_custkey
    """,
    "q7_anti_join": """
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "q8_theta_join": """
        SELECT p_partkey, l_orderkey
        FROM part JOIN lineitem
          ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 1.5
        ORDER BY p_partkey, l_orderkey LIMIT 100
    """,
    "q9_scalar_subquery": """
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "q10_ranking_window": """
        SELECT user_id, event_id, rn FROM (
          SELECT user_id, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn <= 3 ORDER BY user_id, rn
    """,
    "q11_window_frame": """
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum
        FROM events ORDER BY user_id, event_id LIMIT 500
    """,
    "q12_lag_lead": """
        SELECT event_id, user_id,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events ORDER BY user_id, event_id LIMIT 500
    """,
    "q13_rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
    "q14_grouping_sets": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
    "q15_distinct_agg": """
        SELECT COUNT(DISTINCT l_partkey) AS dpart, COUNT(DISTINCT l_suppkey) AS dsupp
        FROM lineitem
    """,
    "q16a_intersect": """
        SELECT c_nationkey AS k FROM customer
        INTERSECT SELECT s_nationkey FROM supplier ORDER BY k
    """,
    "q16b_except": """
        SELECT c_nationkey AS k FROM customer
        EXCEPT SELECT s_nationkey FROM supplier ORDER BY k
    """,
    "q16c_union_all": """
        SELECT k FROM (
          SELECT c_custkey AS k FROM customer
          UNION ALL SELECT o_custkey FROM orders)
        ORDER BY k LIMIT 100
    """,
    "q17_string_funcs": """
        SELECT p_partkey, UPPER(p_brand) AS b, SUBSTRING(p_name, 1, 5) AS pfx,
               LENGTH(p_name) AS len, REPLACE(p_type, ' ', '_') AS t,
               CONCAT(p_brand, '-', p_type) AS bt, TRIM(p_name) AS tr
        FROM part ORDER BY p_partkey LIMIT 200
    """,
    "q18_datetime_funcs": """
        SELECT o_orderkey,
               CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS om,
               EXTRACT(YEAR FROM o_orderdate) AS yr,
               EXTRACT(MONTH FROM o_orderdate) AS mo
        FROM orders ORDER BY o_orderkey LIMIT 200
    """,
    "q19_math_conditional": """
        SELECT l_orderkey, l_linenumber,
               CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                          * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS charge,
               CASE WHEN l_discount > 0.05 THEN 'HI'
                    WHEN l_discount > 0.02 THEN 'MID' ELSE 'LO' END AS disc_band,
               ABS(l_discount - 0.05) > 0.01 AS far
        FROM lineitem ORDER BY l_orderkey, l_linenumber, charge, disc_band, far LIMIT 200
    """,
    "q20_topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 2 ORDER BY o_custkey, rn LIMIT 300
    """,
    "q21_cdc_dedup_latest": """
        SELECT user_id, event_type, value FROM (
          SELECT user_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1 ORDER BY user_id
    """,
    "q22_asof_join": """
        SELECT e.event_id,
               (SELECT MAX(o.o_orderkey) FROM orders o
                WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS last_order
        FROM events e ORDER BY e.event_id LIMIT 300
    """,
    "q23_cross_join": """
        SELECT r1.r_name AS r1_name, r2.r_name AS r2_name
        FROM region r1 CROSS JOIN region r2
        ORDER BY r1_name, r2_name
    """,
    "q24_json_extract": """
        SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id LIMIT 300
    """,
    "q25_array_ops": """
        SELECT vec_id, len(embedding) AS dim
        FROM embeddings ORDER BY vec_id LIMIT 100
    """,
}
