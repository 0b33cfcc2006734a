package graft.suite

import graft.rel.Relational

/** The 22 TPC-H queries (the relational scale surface). Builds live in
  * [[graft.rel.Relational]]; the oracles are the TPC-H texts with every
  * money product in exact decimal ([[DuckDisc]]). */
private[suite] object TpchQueries {

  /** Oracle-side `l_extendedprice * (1 - l_discount)` in exact decimal —
    * the SQL twin of Relational.discPrice. */
  private val DuckDisc =
    "cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))"

  val all: Seq[Query] = Seq(
    Query("q_tpch_q1", Relational.q1,
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS sum_disc_price,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2))) * (cast(1.0 AS decimal(3,2)) + cast(l_tax AS decimal(18,2)))), 2) AS double) AS sum_charge,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) / count(*) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Query("q_tpch_q3", Relational.q3,
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-01-01'
        |  AND l_shipdate > TIMESTAMP '2000-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin),
    Query("q_tpch_q5", Relational.q5,
      """SELECT n_name,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin),
    Query("q_tpch_q6", Relational.q6,
      """SELECT cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * cast(l_discount AS decimal(18,2))), 2) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    Query("q_tpch_q10", Relational.q10,
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin),
    Query("q_tpch_q12", Relational.q12,
      """SELECT l_returnflag,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS bigint) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag""".stripMargin),
    Query("q_tpch_q18", Relational.q18,
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey
        |                     HAVING sum(cast(l_quantity AS decimal(18,2))) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice""".stripMargin),
    Query("q_tpch_q19", Relational.q19,
      """SELECT cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    Query("q_tpch_q4", Relational.q4,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin),
    Query("q_tpch_q13", Relational.q13,
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin),
    Query("q_tpch_q14", Relational.q14,
      """SELECT cast(round(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2))) END), 2) AS double)
        |       * 100.0
        |       / cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS promo_revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin),
    Query("q_tpch_q7", Relational.q7,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_0', 'NATION_1')
        |  AND n2.n_name IN ('NATION_0', 'NATION_1')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin),
    Query("q_tpch_q2", Relational.q2,
      s"""WITH eur AS (SELECT n_nationkey, n_name FROM nation
         |             JOIN region ON n_regionkey = r_regionkey
         |             WHERE r_name = 'EUROPE'),
         |o AS (SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         |             min(cast(l_extendedprice AS decimal(18,2))) AS offer
         |      FROM lineitem
         |      JOIN part ON l_partkey = p_partkey
         |      JOIN supplier ON l_suppkey = s_suppkey
         |      JOIN eur ON s_nationkey = n_nationkey
         |      WHERE p_size <= 10 AND p_type = 'LARGE'
         |      GROUP BY 1, 2, 3, 4, 5, 6),
         |m AS (SELECT p_partkey AS mo_partkey, min(offer) AS min_offer FROM o GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cast(offer AS double) AS offer
         |FROM o JOIN m ON p_partkey = mo_partkey AND offer = min_offer""".stripMargin),
    Query("q_tpch_q8", Relational.q8,
      s"""SELECT year(o_orderdate) AS o_year,
         |       cast(round(sum(CASE WHEN n2.n_name = 'NATION_3' THEN $DuckDisc
         |                     ELSE cast(0 AS decimal(18,2)) END), 2) AS double)
         |       / cast(round(sum($DuckDisc), 2) AS double) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1""".stripMargin),
    Query("q_tpch_q9", Relational.q9,
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |       cast(round(sum($DuckDisc - cast(p_retailprice AS decimal(18,2)) * cast(l_quantity AS decimal(18,2))), 2) AS double) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_type = 'ECONOMY'
         |GROUP BY 1, 2""".stripMargin),
    Query("q_tpch_q11", Relational.q11,
      s"""WITH pv AS (SELECT l_partkey, sum($DuckDisc) AS value FROM lineitem GROUP BY 1),
         |t AS (SELECT sum(value) AS total, count(*) AS nparts FROM pv)
         |SELECT l_partkey, cast(round(value, 2) AS double) AS value
         |FROM pv, t WHERE value * nparts * 10 > total * 15""".stripMargin),
    Query("q_tpch_q15", Relational.q15,
      s"""WITH rev AS (SELECT l_suppkey, sum($DuckDisc) AS total_revenue
         |             FROM lineitem
         |             WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |               AND l_shipdate < TIMESTAMP '1997-04-01'
         |             GROUP BY 1),
         |m AS (SELECT max(total_revenue) AS max_revenue FROM rev)
         |SELECT s_suppkey, s_name, cast(round(total_revenue, 2) AS double) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey, m
         |WHERE total_revenue = max_revenue""".stripMargin),
    Query("q_tpch_q16", Relational.q16,
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3""".stripMargin),
    Query("q_tpch_q17", Relational.q17,
      """WITH pa AS (SELECT l_partkey AS pa_partkey, count(*) AS cnt,
        |                   sum(cast(l_quantity AS decimal(18,2))) AS sumq
        |            FROM lineitem GROUP BY 1)
        |SELECT cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pa ON l_partkey = pa_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND cast(l_quantity AS decimal(18,2)) * 5 * cnt < sumq""".stripMargin),
    Query("q_tpch_q20", Relational.q20,
      """WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        |shipped AS (SELECT l_suppkey, sum(cast(l_quantity AS decimal(18,2))) AS shipped_qty
        |            FROM lineitem JOIN promo ON l_partkey = p_partkey
        |            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |              AND l_shipdate < TIMESTAMP '1998-01-01'
        |            GROUP BY 1),
        |eur AS (SELECT n_nationkey, n_name FROM nation
        |        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
        |SELECT s_name, n_name
        |FROM supplier JOIN eur ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE shipped_qty > 100)""".stripMargin),
    Query("q_tpch_q21", Relational.q21,
      """WITH lo AS (SELECT o_orderkey, l_suppkey,
        |                   l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |            WHERE o_orderstatus = 'F'),
        |per AS (SELECT o_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
        |               min(CASE WHEN late THEN l_suppkey END) AS late_supp
        |        FROM lo GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM per JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1""".stripMargin),
    Query("q_tpch_q22", Relational.q22,
      """WITH sel AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |             WHERE c_nationkey IN (0, 5, 10, 15, 20)),
        |st AS (SELECT sum(cast(c_acctbal AS decimal(18,2))) AS tot, count(*) AS cnt
        |       FROM sel WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |       cast(sum(cast(c_acctbal AS decimal(18,2))) AS double) AS totacctbal
        |FROM sel, st
        |WHERE cast(c_acctbal AS decimal(18,2)) * cnt > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin),
  )
}
