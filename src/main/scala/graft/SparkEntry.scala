package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query names are prefixed with the SURVEY.md §2 inventory id they cover
  * (a1 = aggregation A1, j1 = join J1, …) so coverage is auditable line
  * by line. Oracle SQL is ANSI SQL executed by DuckDB over the same
  * parquet tables; Spark and oracle alias every computed column to the
  * same name and end in the same deterministic ORDER BY.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.a1PoTotals(spark, "/root/testdata/sf0.001")

  /** The core and source rows, one per implemented operator from
    * SURVEY.md §2: each builder beside the ANSI SQL that DuckDB runs over
    * the same parquet tables to restate it. */
  private val coreRows: Seq[RowDef] = Seq(
    RowDef("a1_po_totals", CoreQueries.a1PoTotals, Some(
      """SELECT l_orderkey,
        | CAST(ROUND(SUM(COALESCE(CAST(l_quantity AS DECIMAL(18,4)),0)
        |   * COALESCE(CAST(l_extendedprice AS DECIMAL(18,4)),0)), 2) AS DOUBLE) AS total_amount,
        | COUNT(*) AS line_count
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    RowDef("j1_reconciliation", CoreQueries.j1Reconciliation, Some(
      """WITH li AS (
        |  SELECT l_orderkey,
        |    SUM(COALESCE(CAST(l_extendedprice AS DECIMAL(18,4)),0)) AS li_total
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
        | o.o_totalprice,
        | CAST(ROUND(li.li_total, 2) AS DOUBLE) AS lineitem_total,
        | CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,4)) - li.li_total, 2) AS DOUBLE) AS variance
        |FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
        |ORDER BY o.o_orderkey""".stripMargin)),

    RowDef("w1_top1_per_key", CoreQueries.w1Top1PerKey, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        | SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        | FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    RowDef("w2_minby_top1", CoreQueries.w2MinByTop1, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        | SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        | FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    RowDef("j6_salted_join", CoreQueries.j6SaltedJoin, Some(
      """SELECT e.event_id, e.user_id, c.c_name, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin)),

    RowDef("a3_distinct", CoreQueries.a3Distinct, Some(
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    RowDef("q_tpch_q3", CoreQueries.qTpchQ3, Some(
      """SELECT o_orderkey, o_date, revenue FROM (
        | SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        | FROM orders o JOIN lineitem ON o.o_orderkey = l_orderkey
        | WHERE o.o_orderpriority = '1-URGENT'
        | GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)) t
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    RowDef("q_tpch_q5", CoreQueries.qTpchQ5, Some(
      """SELECT n.n_name,
        | CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |   (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lineitems
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |              AND s.s_nationkey = c.c_nationkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)),

    RowDef("q_tpch_q18", CoreQueries.qTpchQ18, Some(
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
        | CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice,
        | CAST(ROUND(big.sum_qty, 2) AS DOUBLE) AS sum_qty
        |FROM orders o
        |JOIN (SELECT l_orderkey,
        |        SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150) big
        |  ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin)),

    RowDef("q_tpch_q10", CoreQueries.qTpchQ10, Some(
      """SELECT c_custkey, c_name, c_acctbal, n_name, revenue FROM (
        | SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
        |    AS DOUBLE) AS revenue
        | FROM customer c
        | JOIN orders o ON o.o_custkey = c.c_custkey
        | JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | WHERE l.l_returnflag = 'R'
        |   AND o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |   AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        | GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name) t
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    RowDef("q_tpch_q7", CoreQueries.qTpchQ7, Some(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        | CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |   (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
        |   AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lineitems
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
        |  AND n2.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    RowDef("q_tpch_q14", CoreQueries.qTpchQ14, Some(
      """WITH g AS (
        | SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
        |  SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS r,
        |  SUM(CASE WHEN p.p_type LIKE 'PROMO%'
        |      THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |        (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS p
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | GROUP BY 1)
        |SELECT month,
        | CAST(ROUND(r, 2) AS DOUBLE) AS revenue,
        | CAST(ROUND(p, 2) AS DOUBLE) AS promo_revenue,
        | CAST(CAST(ROUND(p, 2) * 100 AS BIGINT) * 1000000
        |      // CAST(ROUND(r, 2) * 100 AS BIGINT) AS BIGINT) AS promo_ppm
        |FROM g ORDER BY month""".stripMargin)),

    RowDef("q_tpch_q19", CoreQueries.qTpchQ19, Some(
      """SELECT
        | CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |   (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
        |   AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lineitems
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    RowDef("q_tpch_q1", CoreQueries.qTpchQ1, Some(
      """WITH g AS (
        | SELECT l_returnflag, l_linestatus,
        |  SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sp,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS sdp,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) *
        |    (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS sc,
        |  SUM(CAST(l_discount AS DECIMAL(6,4))) AS sd,
        |  COUNT(*) AS count_order
        | FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
        | GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(sq, 2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(sp, 2) AS DOUBLE) AS sum_base_price,
        | CAST(ROUND(sdp, 2) AS DOUBLE) AS sum_disc_price,
        | CAST(ROUND(sc, 2) AS DOUBLE) AS sum_charge,
        | CAST(CAST(ROUND(sq, 2) * 100 AS BIGINT) * 10000
        |      // count_order AS BIGINT) AS avg_qty_micro,
        | CAST(CAST(ROUND(sp, 2) * 100 AS BIGINT) * 10000
        |      // count_order AS BIGINT) AS avg_price_micro,
        | CAST(CAST(ROUND(sd, 4) * 10000 AS BIGINT) * 100
        |      // count_order AS BIGINT) AS avg_disc_micro,
        | count_order
        |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    RowDef("q_tpch_q13", CoreQueries.qTpchQ13, Some(
      """SELECT c_count, COUNT(*) AS custdist FROM (
        | SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        | FROM customer c LEFT JOIN orders o
        |   ON c.c_custkey = o.o_custkey
        |   AND o.o_orderpriority <> '1-URGENT'
        | GROUP BY c.c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    RowDef("q_tpch_q17", CoreQueries.qTpchQ17, Some(
      """SELECT
        | CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2)
        |   * 100 AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents,
        | COUNT(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1' AND p.p_size < 10
        |  AND l.l_quantity * 5 <
        |      (SELECT SUM(l2.l_quantity) / COUNT(*) FROM lineitem l2
        |       WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),

    RowDef("q_tpch_q22", CoreQueries.qTpchQ22, Some(
      """SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
        | CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
        |   AS totacctbal
        |FROM customer c
        |WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) *
        |      (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0)
        |    > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,4)))
        |       FROM customer c2 WHERE c2.c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c.c_nationkey
        |ORDER BY cntrycode""".stripMargin)),

    RowDef("q_tpch_q21", CoreQueries.qTpchQ21, Some(
      """SELECT s.s_name, COUNT(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 100""".stripMargin)),

    RowDef("q_tpch_q2", CoreQueries.qTpchQ2, Some(
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(l_extendedprice) AS ps_supplycost, SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
        |       ps.ps_supplycost
        |FROM part p
        |JOIN ps ON ps.ps_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE p.p_size < 10 AND p.p_type = 'ECONOMY'
        |  AND r.r_name = 'EUROPE'
        |  AND ps.ps_supplycost = (
        |    SELECT MIN(ps2.ps_supplycost)
        |    FROM ps ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        |LIMIT 100""".stripMargin)),

    RowDef("q_tpch_q15", CoreQueries.qTpchQ15, Some(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |        (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(ROUND(r.total_revenue, 2) AS DOUBLE) AS total_revenue
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin)),

    RowDef("q_tpch_q4", CoreQueries.qTpchQ4, Some(
      """SELECT o.o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    RowDef("q_tpch_q6", CoreQueries.qTpchQ6, Some(
      """SELECT
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |   CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lineitems
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)),

    RowDef("q_tpch_q8", CoreQueries.qTpchQ8, Some(
      """WITH vol AS (
        | SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))
        |    AS volume,
        |  n2.n_name AS supp_nation
        | FROM part p
        | JOIN lineitem l ON l.l_partkey = p.p_partkey
        | JOIN supplier s ON s.s_suppkey = l.l_suppkey
        | JOIN orders o ON o.o_orderkey = l.l_orderkey
        | JOIN customer c ON c.c_custkey = o.o_custkey
        | JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        | JOIN region r ON r.r_regionkey = n1.n_regionkey
        | JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        | WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'),
        |g AS (
        | SELECT o_year,
        |  SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS nv,
        |  SUM(volume) AS tv
        | FROM vol GROUP BY o_year)
        |SELECT o_year,
        | CAST(ROUND(nv, 2) AS DOUBLE) AS nation_volume,
        | CAST(ROUND(tv, 2) AS DOUBLE) AS total_volume,
        | CAST(CAST(ROUND(nv, 2) * 100 AS BIGINT) * 1000000
        |      // CAST(ROUND(tv, 2) * 100 AS BIGINT) AS BIGINT) AS share_ppm
        |FROM g ORDER BY o_year""".stripMargin)),

    RowDef("q_tpch_q9", CoreQueries.qTpchQ9, Some(
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(l_extendedprice) AS ps_supplycost, SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT n.n_name AS nation,
        | CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        | CAST(ROUND(SUM(
        |   CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |     (CAST(1 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))) -
        |   CAST(ps.ps_supplycost AS DECIMAL(18,4)) *
        |     CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |   AS sum_profit
        |FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN ps ON ps.ps_partkey = l.l_partkey
        |       AND ps.ps_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%gear%'
        |GROUP BY n.n_name, year(o.o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin)),

    RowDef("q_tpch_q11", CoreQueries.qTpchQ11, Some(
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(l_extendedprice) AS ps_supplycost, SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |v AS (
        | SELECT ps.ps_partkey,
        |  SUM(CAST(ps.ps_supplycost AS DECIMAL(18,4)) *
        |      CAST(ps.ps_availqty AS DECIMAL(18,4))) AS value
        | FROM ps
        | JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        | JOIN nation n ON n.n_nationkey = s.s_nationkey
        | WHERE n.n_name IN ('NATION_0','NATION_1','NATION_2')
        | GROUP BY ps.ps_partkey)
        |SELECT ps_partkey, CAST(ROUND(value, 2) AS DOUBLE) AS value
        |FROM v
        |WHERE value * 1000 > (SELECT SUM(value) FROM v)
        |ORDER BY value DESC, ps_partkey""".stripMargin)),

    RowDef("q_tpch_q12", CoreQueries.qTpchQ12, Some(
      """SELECT l.l_returnflag AS ret_mode,
        | CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders o
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_returnflag IN ('A','R')
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l.l_returnflag
        |ORDER BY ret_mode""".stripMargin)),

    RowDef("q_tpch_q16", CoreQueries.qTpchQ16, Some(
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(l_extendedprice) AS ps_supplycost, SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT p.p_brand, p.p_type, p.p_size,
        | COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
        |FROM ps
        |JOIN part p ON p.p_partkey = ps.ps_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND ps.ps_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    RowDef("q_tpch_q20", CoreQueries.qTpchQ20, Some(
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(l_extendedprice) AS ps_supplycost, SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT s.s_name, s.s_suppkey
        |FROM supplier s
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
        |  AND s.s_suppkey IN (
        |    SELECT ps.ps_suppkey FROM ps
        |    WHERE ps.ps_partkey IN
        |        (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |      AND ps.ps_availqty * 2 > (
        |        SELECT COALESCE(SUM(l.l_quantity), 0) FROM lineitem l
        |        WHERE l.l_partkey = ps.ps_partkey
        |          AND l.l_suppkey = ps.ps_suppkey
        |          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'))
        |ORDER BY s.s_name, s.s_suppkey""".stripMargin)),

    RowDef("c3_exists", CoreQueries.c3Exists, Some(
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_tax > 0.07)
        |ORDER BY o_orderkey""".stripMargin)),

    RowDef("a4_quantile_stats", CoreQueries.a4QuantileStats, Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dc,
        | ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // a4c: the bounded-state histogram rewrite must reproduce the same
    // order statistics quantile_cont defines
    RowDef("a4c_quantile_hist", CoreQueries.a4cQuantileHist, Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dc,
        | ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    RowDef("j5_threeway_2key", CoreQueries.j5ThreeWayTwoKey, Some(
      """SELECT e.event_id, o.o_orderkey, c.c_name, c.c_mktsegment, e.value
        |FROM (SELECT event_id, user_id, EXTRACT(day FROM CAST(ts AS DATE)) AS event_day, value
        |      FROM events WHERE event_type = 'purchase') e
        |JOIN (SELECT o_orderkey, o_custkey, EXTRACT(day FROM CAST(o_orderdate AS DATE)) AS o_day
        |      FROM orders) o
        |  ON e.user_id = o.o_custkey AND e.event_day = o.o_day
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY e.event_id, o.o_orderkey""".stripMargin)),

    RowDef("p14_zip_normalize", CoreQueries.p14ZipNormalize, Some(
      """SELECT s_suppkey, zip5 FROM (
        | SELECT s_suppkey,
        |  LPAD(RIGHT(COALESCE(
        |    NULLIF(REGEXP_REPLACE(s_name, '[^0-9]', '', 'g'), ''),
        |    TRIM(CAST(s_nationkey AS VARCHAR))), 5), 5, '0') AS zip5
        | FROM supplier) t
        |WHERE zip5 IS NOT NULL AND zip5 <> ''
        |ORDER BY s_suppkey""".stripMargin)),

    RowDef("p5_try_casts", CoreQueries.p5TryCasts, Some(
      """SELECT event_id,
        | CAST(TRY_CAST(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS DECIMAL(18,2)) AS DOUBLE) AS num_val,
        | TRY_CAST(CAST(CAST(ts AS DATE) AS VARCHAR) AS DATE) AS date_val,
        | TRY_CAST(CAST(CAST(ts AS DATE) AS VARCHAR) AS DATE) AS date_val_fmt,
        | TRY_CAST(event_type AS INTEGER) AS bad_int,
        | NULLIF(TRIM('  ' || event_type || '  '), '') AS trimmed,
        | (TRY_CAST(CAST(event_id % 2 AS VARCHAR) AS INTEGER) = 1) AS flag
        |FROM events ORDER BY event_id""".stripMargin)),

    RowDef("j3_knn_nearest", CoreQueries.j3KnnNearest, Some(
      """WITH sup AS (SELECT DISTINCT s_suppkey,
        |   CAST((s_suppkey*7) % 120 - 60 AS DECIMAL(10,4)) AS s_lat,
        |   CAST((s_suppkey*13) % 340 - 170 AS DECIMAL(10,4)) AS s_lon FROM supplier),
        | st AS (SELECT n_nationkey AS station_id,
        |   CAST((n_nationkey*11) % 120 - 60 AS DECIMAL(10,4)) AS t_lat,
        |   CAST((n_nationkey*17) % 340 - 170 AS DECIMAL(10,4)) AS t_lon FROM nation),
        | crossed AS (SELECT s_suppkey, station_id,
        |   (t_lat - s_lat)*(t_lat - s_lat) + (t_lon - s_lon)*(t_lon - s_lon) AS d2,
        |   ROW_NUMBER() OVER (PARTITION BY s_suppkey
        |     ORDER BY ((t_lat - s_lat)*(t_lat - s_lat) + (t_lon - s_lon)*(t_lon - s_lon)) ASC,
        |              station_id ASC) AS rn
        |  FROM sup CROSS JOIN st)
        |SELECT s_suppkey, station_id, CAST(d2 AS DOUBLE) AS dist_sq
        |FROM crossed WHERE rn = 1 ORDER BY s_suppkey""".stripMargin)),

    RowDef("p17_haversine", CoreQueries.p17Haversine, Some(
      """WITH sup AS (SELECT s_suppkey,
        |   CAST((s_suppkey*7) % 120 - 60 AS DOUBLE) AS s_lat,
        |   CAST((s_suppkey*13) % 340 - 170 AS DOUBLE) AS s_lon FROM supplier),
        | st AS (SELECT n_nationkey AS station_id,
        |   CAST((n_nationkey*11) % 120 - 60 AS DOUBLE) AS t_lat,
        |   CAST((n_nationkey*17) % 340 - 170 AS DOUBLE) AS t_lon FROM nation)
        |SELECT s_suppkey, station_id,
        | ROUND(2*6371*ASIN(SQRT(
        |   POW(SIN((RADIANS(t_lat)-RADIANS(s_lat))/2),2) +
        |   COS(RADIANS(s_lat))*COS(RADIANS(t_lat))*POW(SIN((RADIANS(t_lon)-RADIANS(s_lon))/2),2))), 1) AS dist_km
        |FROM sup CROSS JOIN st
        |ORDER BY s_suppkey, station_id""".stripMargin)),

    RowDef("j2_crosstype_join", CoreQueries.j2CrossTypeJoin, Some(
      """SELECT c.c_custkey, c.c_name, n.n_name
        |FROM customer c
        |JOIN (SELECT CAST(n_nationkey AS VARCHAR) AS nation_code, n_name FROM nation) n
        |  ON CAST(c.c_nationkey AS VARCHAR) = n.nation_code
        |ORDER BY c.c_custkey""".stripMargin)),

    RowDef("s1_csv_roundtrip", SourceQueries.s1CsvRoundtrip, Some(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_price,
        | COUNT(l_shipdate) AS n_dates
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    RowDef("s8_jdbc_extract", SourceQueries.s8JdbcExtract, Some(
      """SELECT CAST(s_nationkey AS INT) AS nation,
        | COUNT(*) AS n_suppliers,
        | CAST(SUM(length(s_name)) AS BIGINT) AS sum_name_len,
        | CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
        |FROM supplier GROUP BY 1 ORDER BY nation""".stripMargin)),

    RowDef("s2_staged_partitions", SourceQueries.s2StagedPartitions, Some(
      """SELECT yr, mo,
        | 'purchases_' || CAST(yr AS VARCHAR) || '_' ||
        |   lpad(CAST(mo AS VARCHAR), 2, '0') || '.csv' AS src_filename,
        | COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM (SELECT
        |        CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT) AS yr,
        |        CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS INT) AS mo,
        |        o_totalprice
        |      FROM orders) t
        |GROUP BY yr, mo ORDER BY yr, mo""".stripMargin)),

    RowDef("s10_tsv", SourceQueries.s10Tsv, Some(
      """SELECT state, COUNT(*) AS n_zips,
        | CAST(ROUND(SUM(lat), 4) AS DOUBLE) AS sum_lat,
        | CAST(ROUND(SUM(lng), 4) AS DOUBLE) AS sum_lng,
        | MIN(zip) AS min_zip
        |FROM (SELECT
        |        lpad(CAST(s_suppkey % 100000 AS VARCHAR), 5, '0') AS zip,
        |        CAST((s_suppkey * 7) % 120 - 60 AS DECIMAL(10,4)) AS lat,
        |        CAST((s_suppkey * 13) % 340 - 170 AS DECIMAL(10,4)) AS lng,
        |        'ST' || lpad(CAST(s_nationkey AS VARCHAR), 2, '0') AS state
        |      FROM supplier) t
        |GROUP BY state ORDER BY state""".stripMargin)),

    RowDef("s7_xml_shred", SourceQueries.s7XmlShred, Some(
      """SELECT transaction_id, supplier_id, invoice_number, transaction_date,
        |       amount, is_finalized, xml_index
        |FROM (
        |  SELECT o_orderkey AS transaction_id, o_custkey AS supplier_id,
        |   CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |        ELSE 'INV-' || CAST(o_orderkey AS VARCHAR) END AS invoice_number,
        |   CAST(o_orderdate AS DATE) AS transaction_date,
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
        |   (o_orderkey % 2 = 1) AS is_finalized,
        |   CAST(ROW_NUMBER() OVER (PARTITION BY o_orderkey % 200
        |        ORDER BY o_orderkey) - 1 AS BIGINT) AS xml_index
        |  FROM orders) t
        |WHERE transaction_id % 97 <> 0
        |ORDER BY transaction_id""".stripMargin)),

    RowDef("s9_schema_inference", SourceQueries.s9SchemaInference, Some(
      """SELECT * FROM (VALUES
        | ('date_col','date'), ('date_mixed_fmt','date'), ('id_col','long'),
        | ('mixed_col','double'), ('name_col','string'), ('null_col','string'),
        | ('num_col','double')) AS t(column_name, inferred_type)
        |ORDER BY column_name""".stripMargin)),

    RowDef("s15_jsonl_roundtrip", SourceQueries.s15JsonlRoundtrip, Some(
      """SELECT lang, COUNT(*) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // s17: the oracle restates the Morton interleave as a literal
    // bit-arithmetic sum — all integers, so cells and stats are exact
    RowDef("s17_zorder_layout", SourceQueries.s17ZorderLayout, Some {
      val zTerms = (0 until 12).map(i =>
        s"((px >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((py >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      s"""WITH pts AS (SELECT (o_orderkey*7) % 4096 AS px,
         |  (o_orderkey*13) % 4096 AS py FROM orders),
         |z AS (SELECT px, py, $zTerms AS z FROM pts)
         |SELECT z >> 18 AS cell, COUNT(*) AS n_points,
         | MIN(px) AS min_px, MAX(px) AS max_px,
         | MIN(py) AS min_py, MAX(py) AS max_py,
         | MIN(z) AS min_z, MAX(z) AS max_z,
         | (MAX(px)-MIN(px)+1) * (MAX(py)-MIN(py)+1) AS bbox_area
         |FROM z GROUP BY cell ORDER BY cell""".stripMargin
    }),

    // v1: oracle recomputes every VARIANT-extracted value straight from
    // the base columns — a hash match proves the JSON→VARIANT→typed-path
    // chain (incl. double round-trip) is lossless. The two try_ columns
    // are null by construction (missing path; 'click'→bigint cast fail).
    RowDef("v1_variant_shred", SourceQueries.v1VariantShred, Some(
      """SELECT event_id,
        | event_type AS etype,
        | value AS val_back,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(LENGTH(event_type) AS BIGINT) AS type_len,
        | user_id % 7 AS user_mod7,
        | CAST(NULL AS BIGINT) AS absent,
        | CAST(NULL AS BIGINT) AS type_as_num
        |FROM events ORDER BY event_id""".stripMargin)),

    // v2: oracle restates every array element from the same base-column
    // key arithmetic — one row per (event, ordinal), elem_key null in
    // array mode, try_ columns null (string→bigint cast fail; missing
    // path). unnest(generate_series) is DuckDB's lateral-flatten twin.
    RowDef("v2_variant_flatten", SourceQueries.v2VariantFlatten, Some(
      """WITH f AS (
        | SELECT event_id, event_type,
        |  unnest(generate_series(0, CAST(user_id % 3 AS BIGINT))) AS i
        | FROM events)
        |SELECT event_id,
        | CAST(i AS BIGINT) AS ord,
        | CAST(NULL AS VARCHAR) AS elem_key,
        | CAST(i AS BIGINT) AS idx,
        | CAST(((event_id % 1000) * 7 + i * 13) % 1000 AS BIGINT) AS code,
        | event_type || '-' || CAST(i AS VARCHAR) AS name,
        | CAST(NULL AS BIGINT) AS name_as_num,
        | CAST(NULL AS VARCHAR) AS absent
        |FROM f ORDER BY event_id, ord""".stripMargin)),

    RowDef("s16_orc_roundtrip", SourceQueries.s16OrcRoundtrip, Some(
      """SELECT source, COUNT(*) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    RowDef("s18_gzip_csv", SourceQueries.s18GzipCsv, Some(
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |   AS sum_price,
        | COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_dates,
        | MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    RowDef("s11_ctas_insert_view", SourceQueries.s11CtasInsertView, Some(
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus IN ('F','O')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // s19: the oracle recomputes the minstd shard route and the
    // per-shard masses from the original parquet, and states n_files
    // as the literal 1 — Spark's count_distinct(input_file_name())
    // must agree, which pins the one-file-per-shard write layout
    RowDef("s19_shard_manifest", SourceQueries.s19ShardManifest, Some(
      """WITH d AS (SELECT doc_id, text,
        |        ((doc_id * 48271) % 2147483647) % 8 AS shard
        |      FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
        | CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        | MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        | CAST(1 AS BIGINT) AS n_files
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin)),
  )

  /** Every bench row, declared once: the core/source rows plus the
    * extension and OLAP families. A name declared twice fails here. */
  val rows: Seq[RowDef] =
    RowDef.distinct(coreRows ++ ExtensionQueries.rows ++ OlapQueries.rows)

  /** Every row's builder, with or without an oracle: what Bench times. */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  /** The oracle-checked rows: what Verify dumps for the DuckDB compare. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.collect { case r if r.oracle.isDefined => r.name -> r.build }.toMap

  /** Rows Bench times but Verify never dumps (no portable SQL
    * equivalent); a spec pins each one instead. */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    rows.collect { case r if r.oracle.isEmpty => r.name -> r.build }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    rows.flatMap(r => r.oracle.map(r.name -> _)).toMap
}
