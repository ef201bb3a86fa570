"""TPC-H-style headline queries over the driver's lineitem/orders/customer/
supplier/part/nation/region tables, plus the two SQL-API twins."""

from __future__ import annotations

from pdf_parser_spark.faces import Face
from pdf_parser_spark.plans import relational as R, sqlapi


FACES = [
    Face("q1_pricing_summary", R.q1_pricing_summary, """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """),
    Face("q3_top_orders", R.q3_top_orders, """
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """),
    Face("q5_region_revenue", R.q5_region_revenue, """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
            GROUP BY n_name ORDER BY revenue DESC, n_name ASC
        """),
    Face("q6_forecast_revenue", R.q6_forecast_revenue, """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
              AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
        """),
    Face("q4_order_priority", R.q4_order_priority, """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """),
    Face("q18_large_orders", R.q18_large_orders, """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
            FROM orders
            JOIN (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 180) big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """),
    Face("q7_volume_shipping", R.q7_volume_shipping, """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 4) AS revenue
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                       CAST(year(l_shipdate) AS BIGINT) AS l_year,
                       l_extendedprice * (1 - l_discount) AS volume
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1999-01-01'
                  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            ) shipping
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """),
    Face("q10_returned_items", R.q10_returned_items, """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """),
    Face("q12_priority_by_status", R.q12_priority_by_status, """
            SELECT o_orderstatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """),
    Face("q13_order_count_distribution", R.q13_order_count_distribution, """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
                  GROUP BY c_custkey) c_orders
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """),
    Face("q14_promo_revenue", R.q14_promo_revenue, """
            SELECT round(100.0 * promo / total, 4) AS promo_revenue_pct
            FROM (
                SELECT round(sum(CASE WHEN p_type = 'PROMO'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0.0 END), 4) AS promo,
                       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
            )
        """),
    Face("q15_top_supplier", R.q15_top_supplier, """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN rev ON s_suppkey = l_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s_suppkey
        """),
    Face("q19_bracket_revenue", R.q19_bracket_revenue, """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """),
    Face("q22_dormant_customers", R.q22_dormant_customers, """
            SELECT n_name, count(*) AS numcust,
                   round(sum(c_acctbal), 4) AS totacctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4)
                               FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= '2000-07-01')
            GROUP BY n_name ORDER BY n_name
        """),
    Face("q17_small_quantity_revenue", R.q17_small_quantity_revenue, """
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
              AND l_quantity < (
                  SELECT CAST(0.2 AS DOUBLE) * avg(l_quantity)
                  FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
        """),
    Face("q20_promo_volume_suppliers", R.q20_promo_volume_suppliers, """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'PROMO'
                  AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(l_quantity) > 45)
            ORDER BY s_suppkey
        """),
    Face("q21_lone_returning_supplier", R.q21_lone_returning_supplier, """
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1
            JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
            JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE l1.l_returnflag = 'R'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
            GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT 20
        """),
    Face("q2_min_price_supplier", R.q2_min_price_supplier, """
            WITH per_ps AS (
                SELECT l_partkey, l_suppkey, min(l_extendedprice) AS price
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_size = 10 GROUP BY l_partkey, l_suppkey)
            SELECT s_acctbal, s_name, l_partkey AS p_partkey,
                   round(price, 4) AS min_price
            FROM per_ps JOIN supplier ON s_suppkey = l_suppkey
            WHERE price = (SELECT min(p2.price) FROM per_ps p2
                           WHERE p2.l_partkey = per_ps.l_partkey)
            ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC LIMIT 10
        """),
    Face("q8_market_share", R.q8_market_share, """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                                  ELSE CAST(0.0 AS DOUBLE) END) / sum(vol), 4)
                       AS mkt_share
            FROM (
                SELECT o_orderdate, n2.n_name AS supp_nation,
                       l_extendedprice * (1 - l_discount) AS vol
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
                WHERE r_name = 'ASIA')
            GROUP BY o_year ORDER BY o_year
        """),
    Face("q9_profit_by_nation_year", R.q9_profit_by_nation_year, """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity / 10.0), 4) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_type = 'STANDARD'
            GROUP BY n_name, o_year ORDER BY nation ASC, o_year DESC
        """),
    Face("q11_revenue_concentration", R.q11_revenue_concentration, """
            SELECT l_partkey AS p_partkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS value
            FROM lineitem
            GROUP BY l_partkey
            HAVING round(sum(l_extendedprice * (1 - l_discount)), 4) > (
                SELECT sum(l_extendedprice * (1 - l_discount)) * 1.5
                       / count(DISTINCT l_partkey)
                FROM lineitem)
            ORDER BY value DESC, p_partkey ASC
        """),
    Face("q16_supplier_diversity", R.q16_supplier_diversity, """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#3'
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
            LIMIT 20
        """),
    # the spark.sql surface: ONE ANSI string executed by both engines
    # the spark.sql surface: the oracle executes the IDENTICAL text
    Face("q1_pricing_sql", sqlapi.q1_pricing_sql, sqlapi.Q1_SQL),
    # same gate for the window family (row_number rank + join)
    Face("q_top_orders_sql", sqlapi.top_orders_sql, sqlapi.TOP_ORDERS_SQL),
]
