package graft.oracle

/** DuckDB oracle SQL, one entry per oracle-checked key in
  * `graft.SparkEntry.queries` (SURVEY.md §2). The driver materializes each
  * `{sfDir}/{table}.parquet` as a DuckDB view named `{table}` and
  * hash-compares against our parquet dump (columns sorted by name, so
  * aliases must match the Spark side EXACTLY; row order is preserved, so
  * every query ends in a total-order ORDER BY).
  *
  * Dialect discipline (SURVEY.md §2.9): money sums scale-to-integer per row
  * (`round(x*10000)` — identical half-away-from-zero rounding on the same
  * IEEE double in both engines), accumulate exactly, divide back (per-row
  * `CAST(double AS DECIMAL)` is NOT portable — verified drift); `events.ts`
  * is parquet timestamp[ns] — always reduce through epoch_ms before
  * comparing/aggregating; integer sums cast to BIGINT or DOUBLE (DuckDB
  * sum(BIGINT) widens to HUGEINT); NULL sort order differs (Spark NULLS
  * FIRST asc, DuckDB NULLS LAST) — coalesce group keys or spell NULLS
  * FIRST/LAST explicitly.
  */
object OracleSql {

  /** DuckDB spelling of the portable exact money sum. */
  private def msum(expr: String): String =
    s"CAST(sum(CAST(round(($expr) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0"

  /** Spark∩DuckDB shared-dialect SQL: the same text is executed by
    * `spark.sql` (ops.Relational.sqlQ3/Q5) AND shipped as the oracle —
    * one source of truth, zero drift.
    */
  val Q3: String =
    s"""WITH rev AS (
       |  SELECT l_orderkey,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS sr
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment = 'BUILDING'
       |    AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00')
       |SELECT l_orderkey, CAST(sum(sr) AS DOUBLE) / 10000.0 AS revenue
       |FROM rev GROUP BY l_orderkey
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  val Q5: String =
    s"""SELECT n_name,
       |  ${msum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H-Q7-shaped volume-shipping query (two-nation trade flows by ship
    * year, symmetric nation-pair disjunction — the classic OR-of-conjuncts
    * predicate that must NOT break the join into a cartesian). EXTRACT YEAR
    * is cast to BIGINT on both engines (Spark year() is INT, DuckDB's is
    * BIGINT).
    */
  val Q7: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       |  ${msum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
       |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
       |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H-Q10-shaped returned-items report: top-20 customers by revenue
    * lost to returns in one quarter.
    */
  val Q10: String =
    s"""SELECT c_custkey, c_name,
       |  ${msum("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  c_acctbal, n_name
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Q14-shaped promo revenue share by ship month (shared dialect: runs
    * verbatim on Spark AND DuckDB). The share is a DOUBLE/DOUBLE division
    * of two exact scaled-BIGINT sums — identical IEEE operands on both
    * engines, so no rounding is needed for the hash match.
    */
  val Q14: String =
    """WITH pr AS (
      |  SELECT CAST(extract(year FROM l_shipdate) * 100
      |           + extract(month FROM l_shipdate) AS BIGINT) AS ym,
      |    CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS sr,
      |    CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT ym,
      |  CAST(sum(sr * is_promo) AS DOUBLE) / 10000.0 AS promo_revenue,
      |  CAST(sum(sr) AS DOUBLE) / 10000.0 AS total_revenue,
      |  CAST(sum(sr * is_promo) AS DOUBLE) / CAST(sum(sr) AS DOUBLE) AS promo_share
      |FROM pr GROUP BY ym ORDER BY ym""".stripMargin

  /** Q18-shaped large-volume customers (shared dialect). l_quantity is an
    * integral double (1..50), so sum() is exact in any order; the BIGINT
    * cast is portable on exactly-integral values.
    */
  val Q18: String =
    """SELECT c_name, o_orderkey, o_totalprice,
      |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
      |FROM orders
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_name, o_orderkey, o_totalprice
      |HAVING sum(l_quantity) > 120
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** Q19-shaped disjunctive brand/size/quantity revenue (shared dialect,
    * adapted: this lineitem has no shipmode/container). Single aggregate
    * row — order-stable by construction.
    */
  val Q19: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
       |  ${msum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
       |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       |   OR (p_brand = 'Brand#2'  AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 45)""".stripMargin

  /** Q2-shaped min/max-cost supplier per part. Adapted: no partsupp table
    * in this schema, so the part–supplier relation is the DISTINCT
    * lineitem link and "cost" is the supplier's account balance (the
    * correlated-aggregate-subquery shape — pick per part the ASIA supplier
    * with the maximum balance — is what Q2 exercises; both engines
    * decorrelate it to an aggregated join). s_acctbal equality compares
    * the same parquet doubles on both engines.
    */
  val Q2: String =
    """WITH sp AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
      |SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
      |FROM part
      |JOIN sp ON pk = p_partkey
      |JOIN supplier ON s_suppkey = sk
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND p_size = 15
      |  AND s_acctbal = (SELECT max(s2.s_acctbal)
      |    FROM sp sp2
      |    JOIN supplier s2 ON s2.s_suppkey = sp2.sk
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE sp2.pk = p_partkey AND r2.r_name = 'ASIA')
      |ORDER BY s_acctbal DESC, p_partkey, s_suppkey""".stripMargin

  /** Q4-shaped order-priority check. Adapted: no commit/receipt dates, so
    * "late" is a lineitem shipped after the order date — the correlated
    * EXISTS with a non-equality outer reference is the shape under test
    * (plans as a left-semi join on both engines).
    */
  val Q4: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q6-shaped forecasting revenue change: the pure scan-filter-aggregate
    * (no join) — predicate pushdown does all the work. The discount band
    * compares the same IEEE doubles on both engines.
    */
  val Q6: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
       |  ${msum("l_extendedprice * l_discount")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  /** Q8-shaped national market share: NATION_12's share of ASIA PROMO
    * volume by order year. The share divides two exact scaled-BIGINT sums
    * as doubles — identical IEEE operands on both engines, no rounding
    * fudge needed (the Q14 discipline).
    */
  val Q8: String =
    """WITH vol AS (
      |  SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v,
      |    n2.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  JOIN part ON p_partkey = l_partkey
      |  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
      |SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 'NATION_12' THEN v ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(v) AS DOUBLE) AS mkt_share
      |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin

  /** Q9-shaped product-type profit by nation and year. Adapted: no
    * partsupp supply cost, so cost is 60% of the part's retail price. The
    * per-row profit expression is one shared parse tree of IEEE products
    * and a subtraction, scaled to BIGINT before the sum (exact in any
    * order).
    */
  val Q9: String =
    """SELECT n_name AS nation,
      |  CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
      |      - p_retailprice * 0.6 * l_quantity) * 10000) AS BIGINT)) AS DOUBLE)
      |    / 10000.0 AS profit
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Q11-shaped important-stock identification. Adapted: no partsupp
    * table, so a part's "stock value" held by one nation's suppliers is
    * the shipped value (price × (1−discount)) of that nation's lineitems
    * for the part; Q11's shape — a grouped aggregate filtered by a HAVING
    * against a scalar subquery over the SAME aggregate — is preserved.
    * The share threshold compares scaled BIGINTs (v·20000 > Σv), so the
    * filter is exact integer arithmetic on both engines; only the final
    * display value divides to DOUBLE (identical IEEE operands). The
    * 1/20000 fraction keeps the result non-empty at every harness SF
    * (TPC-H scales its Q11 fraction by 1/SF for the same reason).
    */
  val Q11: String =
    """WITH pv AS (
      |  SELECT l_partkey AS pk,
      |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS v
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'
      |  GROUP BY l_partkey)
      |SELECT pk AS p_partkey, CAST(v AS DOUBLE) / 10000.0 AS part_value
      |FROM pv
      |WHERE v * 20000 > (SELECT sum(v) FROM pv)
      |ORDER BY part_value DESC, p_partkey""".stripMargin

  /** Q12-shaped priority-class line counts by ship year (the CASE-pivot
    * conditional aggregation Q12 exercises; adapted: no ship mode or
    * commit/receipt dates in this schema).
    */
  val Q12: String =
    """SELECT CAST(extract(year FROM l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1 ORDER BY ship_year""".stripMargin

  /** Q13-shaped customer order-count distribution: outer join with an
    * ON-clause filter, then a histogram of the per-customer counts.
    */
  val Q13: String =
    """WITH c_orders AS (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey
      |    AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey)
      |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q15-shaped top supplier: revenue CTE consumed twice (per-supplier
    * rows + the max threshold) — the view-reuse shape of Q15. Equality on
    * total_revenue compares exact-scaled sums, identical on both engines.
    */
  val Q15: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)
      |      / 10000.0 AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Q16-shaped parts/supplier relationship count. Adapted: the
    * part–supplier relation is the DISTINCT lineitem link (no partsupp);
    * the COUNT(DISTINCT) over a filtered dimension is the shape.
    */
  val Q16: String =
    """WITH sp AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
      |SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT sk) AS BIGINT) AS supplier_cnt
      |FROM sp JOIN part ON pk = p_partkey
      |WHERE p_brand <> 'Brand#4' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17-shaped small-quantity-order revenue: correlated average-quantity
    * threshold per part. avg() here is an exact sum of integral doubles
    * over an exact count — bit-identical threshold on both engines; the
    * 0.2 multiple and the comparison are then identical IEEE ops.
    */
  val Q17: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS DOUBLE)
      |    / 10000.0 / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#4'
      |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Q20-shaped excess-shipment suppliers. Adapted: no partsupp availqty,
    * so the inner threshold is shipped quantity per (supplier, part) in
    * 1996 — the nested IN-subquery-over-aggregate shape survives.
    */
  val Q20: String =
    """WITH sq AS (
      |  SELECT l_suppkey AS sk, l_partkey AS pk,
      |    CAST(sum(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND s_suppkey IN (SELECT sk FROM sq JOIN part ON pk = p_partkey
      |                    WHERE p_type = 'PROMO' AND qty > 40)
      |ORDER BY s_suppkey""".stripMargin

  /** Q21-shaped waiting-supplier ranking: the EXISTS + NOT EXISTS double
    * correlation (another supplier on the order; nobody shipped later than
    * me) — one semi and one anti join after decorrelation. Adapted to
    * l_shipdate (no commit/receipt dates).
    */
  val Q21: String =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  /** Q22-shaped global sales opportunity: rich inactive customers.
    * Adapted: no phone column, so country code is the nation key and
    * "inactive" means no URGENT order (this generator gives every customer
    * at least one order). Scalar-subquery threshold + anti join, the Q22
    * shape.
    */
  val Q22: String =
    s"""SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
       |  CAST(count(*) AS BIGINT) AS numcust,
       |  ${msum("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23)
       |  AND c_acctbal > (SELECT CAST(sum(CAST(round(c2.c_acctbal * 10000) AS BIGINT)) AS DOUBLE)
       |                     / 10000.0 / count(*)
       |                   FROM customer c2 WHERE c2.c_acctbal > 0.0)
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderpriority = '1-URGENT')
       |GROUP BY c_nationkey
       |ORDER BY cntrycode""".stripMargin

  /** Shared-dialect correlated LATERAL (top-2 orders per customer): the
    * same text runs on Spark (`ops.Relational.joinLateral`) and DuckDB —
    * one source of truth, zero drift (the sql_q3 pattern).
    */
  val Lateral: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** Shared-dialect bounded recursive traversal — the same walk runs on
    * Spark 4.1 (`ops.Relational.sqlRecursive`) and DuckDB (one source of
    * truth, zero drift). UNION ALL + depth guard keeps multiplicity
    * semantics identical; the path blow-up is bounded by seeds × deg².
    * The oracle derives the both-direction co-purchase edges `e2` inline;
    * the op recurses over its own materialized copy of them.
    */
  val Recursive: String =
    """WITH RECURSIVE lp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |cp AS (
      |  SELECT DISTINCT x.p AS a, y.p AS b FROM lp x JOIN lp y
      |  ON x.ok = y.ok AND x.p < y.p),
      |e2 AS (SELECT a, b FROM cp UNION ALL SELECT b, a FROM cp),
      |""".stripMargin + recursiveWalk("e2")

  /** The `walk` recursion and final rollup of [[Recursive]] over the
    * (a, b) edge relation `e`: the last CTE of a `WITH RECURSIVE` list
    * plus the SELECT that closes the statement.
    */
  def recursiveWalk(e: String): String =
    s"""walk(node, depth) AS (
       |  SELECT p_partkey, 0 FROM part WHERE p_partkey < 5
       |  UNION ALL
       |  SELECT $e.b, depth + 1 FROM walk JOIN $e ON $e.a = walk.node
       |  WHERE depth < 2)
       |SELECT node, CAST(min(depth) AS BIGINT) AS hop,
       |  count(*) AS n_paths
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** Shared-dialect TPC-H Q1 — the flagship pricing summary as ONE text
    * both engines execute (agg_pricing is its DataFrame twin): money sums
    * spelled scale-to-integer inline so the identical SQL is hash-stable
    * on any partitioning.
    */
  val Q1: String = {
    def m(e: String) =
      s"CAST(sum(CAST(round(($e) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0"
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |  ${m("l_extendedprice")} AS sum_base_price,
       |  ${m("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${m("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
       |  ${m("l_extendedprice")} / count(*) AS avg_price,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** Shared generator for the exact-moment sample-ACF chain (r14 wave A:
    * agg_ljung_box, agg_yule_walker): per-type daily micro-returns (the
    * win_garch leg), lag-1..maxLag cross sums in HUGEINT, the
    * single-mean ACF formula as the identical fixed double tree the
    * Spark side folds, LB appended when maxLag = 5. `finalSelect` reads
    * from the generated `rhos` CTE (g, n, rho1..rho{maxLag}[, lb]).
    */
  private def ljungBoxStyleSql(maxLag: Int, finalSelect: String): String = {
    val lagCols = (1 to maxLag).map(k =>
      s"lag(rq, $k) OVER (PARTITION BY g ORDER BY d) AS l$k")
      .mkString(",\n    ")
    val sumCols = (1 to maxLag).map(k =>
      s"""sum(CASE WHEN l$k IS NOT NULL THEN CAST(l$k AS HUGEINT) * rq
         |      ELSE 0 END) AS sxy$k,
         |    CAST(sum(CASE WHEN l$k IS NOT NULL THEN l$k ELSE 0 END)
         |      AS BIGINT) AS sa$k,
         |    CAST(sum(CASE WHEN l$k IS NOT NULL THEN rq ELSE 0 END)
         |      AS BIGINT) AS sb$k""".stripMargin).mkString(",\n    ")
    val rhoCols = (1 to maxLag).map(k =>
      s"""(CAST(CAST(sxy$k AS VARCHAR) AS DOUBLE) -
         |      rbar * (CAST(sa$k AS DOUBLE) + CAST(sb$k AS DOUBLE)) +
         |      (CAST(n AS DOUBLE) - $k.0) * rbar * rbar) / den AS rho$k"""
        .stripMargin).mkString(",\n    ")
    val lbCol = if (maxLag == 5) {
      val terms = (1 to 5).map(k =>
        s"rho$k * rho$k / (CAST(n AS DOUBLE) - $k.0)").mkString(" + ")
      s""",
         |    ($terms) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
         |      AS lb""".stripMargin
    } else ""
    s"""WITH daily AS (
       |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT g, d, ((c - pc) * 1000000) // pc AS rq
       |  FROM (SELECT g, d, c, lag(c) OVER (PARTITION BY g ORDER BY d)
       |    AS pc FROM daily)
       |  WHERE pc > 0),
       |lagged AS (
       |  SELECT g, d, rq,
       |    $lagCols
       |  FROM r),
       |s AS (
       |  SELECT g, count(*) AS n, CAST(sum(rq) AS BIGINT) AS sr,
       |    sum(CAST(rq AS HUGEINT) * rq) AS srr,
       |    $sumCols
       |  FROM lagged GROUP BY 1),
       |base AS (
       |  SELECT *, CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS rbar FROM s),
       |base2 AS (
       |  SELECT *, CAST(CAST(srr AS VARCHAR) AS DOUBLE) -
       |    CAST(n AS DOUBLE) * rbar * rbar AS den FROM base),
       |rhos AS (
       |  SELECT g, n,
       |    $rhoCols$lbCol
       |  FROM base2)
       |$finalSelect""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "sql_q1" -> Q1,

    // quantized returns, DECIMAL downside squares, fixed Sharpe/Sortino
    // trees; HUGEINT->double via VARCHAR
    "win_sortino" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT g, ((c - pc) * 1000000) // pc AS r FROM (
        |    SELECT g, c, lag(c) OVER (PARTITION BY g ORDER BY day) AS pc
        |    FROM daily)
        |  WHERE pc > 0),
        |s AS (
        |  SELECT g, count(*) AS n, CAST(sum(r) AS BIGINT) AS s1,
        |    CAST(CAST(sum(CAST(r AS HUGEINT) * r) AS VARCHAR) AS DOUBLE)
        |      AS s2,
        |    CAST(CAST(sum(CAST(least(r, 0) AS HUGEINT) * least(r, 0))
        |      AS VARCHAR) AS DOUBLE) AS sd2
        |  FROM r GROUP BY 1),
        |t AS (
        |  SELECT g, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    sqrt(s2 / CAST(n AS DOUBLE) -
        |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS sig,
        |    sqrt(sd2 / CAST(n AS DOUBLE)) AS dsig, sd2
        |  FROM s)
        |SELECT g AS event_type, n AS n_days,
        |  floor(m / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS mean_ret,
        |  floor(m / sig * 10000.0 + 0.5) / 10000.0 AS sharpe,
        |  CASE WHEN sd2 > 0
        |    THEN floor(m / dsig * 10000.0 + 0.5) / 10000.0 END AS sortino
        |FROM t ORDER BY event_type""".stripMargin,

    // all-integer Cochran Q margins, one fixed double tree (r14 wave B)
    "agg_cochran_q" ->
      """WITH flags AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS xv,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS xc,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS xp
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT count(*) AS n, CAST(sum(xv) AS BIGINT) AS cv,
        |    CAST(sum(xc) AS BIGINT) AS cc, CAST(sum(xp) AS BIGINT) AS cpu,
        |    CAST(sum(xv + xc + xp) AS BIGINT) AS sr,
        |    CAST(sum((xv + xc + xp) * (xv + xc + xp)) AS BIGINT) AS srr
        |  FROM flags),
        |t AS (
        |  SELECT n, cv, cc, cpu,
        |    2.0 * (3.0 * (CAST(cv AS DOUBLE) * CAST(cv AS DOUBLE) +
        |      CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE) +
        |      CAST(cpu AS DOUBLE) * CAST(cpu AS DOUBLE)) -
        |      (CAST(cv AS DOUBLE) + CAST(cc AS DOUBLE) +
        |        CAST(cpu AS DOUBLE)) *
        |      (CAST(cv AS DOUBLE) + CAST(cc AS DOUBLE) +
        |        CAST(cpu AS DOUBLE))) /
        |    (3.0 * CAST(sr AS DOUBLE) - CAST(srr AS DOUBLE)) AS q
        |  FROM s)
        |SELECT n AS n_subjects, cv AS c_view, cc AS c_click,
        |  cpu AS c_purchase,
        |  floor(q * 10000.0 + 0.5) / 10000.0 AS q_stat,
        |  q > 5.9915 AS differs_5pct
        |FROM t""".stripMargin,

    // discordant (user, day) pairs only — McNemar chi2 (r14 wave C)
    "agg_mcnemar" ->
      """WITH flags AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
        |  FROM events WHERE event_type IN ('view', 'click')
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM flags),
        |t AS (SELECT n, b, c,
        |  (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) *
        |  (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) /
        |  (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) AS chi2 FROM s)
        |SELECT n AS n_subjects, b AS n_view_only, c AS n_click_only,
        |  floor(chi2 * 10000.0 + 0.5) / 10000.0 AS chi2,
        |  chi2 > 3.8415 AS differs_5pct
        |FROM t""".stripMargin,

    // two exact counts, conditional-binomial z
    "agg_poisson_rate" ->
      """WITH s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nv,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np
        |  FROM events),
        |t AS (SELECT nv, np,
        |  (CAST(nv AS DOUBLE) - CAST(np AS DOUBLE)) /
        |    sqrt(CAST(nv AS DOUBLE) + CAST(np AS DOUBLE)) AS z FROM s)
        |SELECT nv AS n_view, np AS n_purchase,
        |  floor(CAST(nv AS DOUBLE) / CAST(np AS DOUBLE) * 10000.0 + 0.5)
        |    / 10000.0 AS rate_ratio,
        |  floor(z * 10000.0 + 0.5) / 10000.0 AS z,
        |  abs(z) > 1.96 AS differs_5pct
        |FROM t""".stripMargin,

    // running-mean deviations re-quantized to exact micro-cents, cum +
    // running-min windows over the day spine, argmax via ROW extrema
    "agg_page_hinkley" ->
      """WITH days AS (
        |  SELECT epoch_ms(l_shipdate) // 86400000 AS day,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1),
        |spine AS (
        |  SELECT day, y,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
        |  FROM days),
        |c AS (
        |  SELECT *, CAST(sum(y) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM spine),
        |dq AS (
        |  SELECT *, CAST(floor((CAST(y AS DOUBLE) -
        |    CAST(cum AS DOUBLE) / CAST(rn AS DOUBLE)) * 1000000.0 + 0.5)
        |    AS BIGINT) AS dq FROM c),
        |m AS (
        |  SELECT *, CAST(sum(dq) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS m FROM dq),
        |r AS (
        |  SELECT *, CAST(min(m) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS runmin FROM m),
        |p AS (SELECT day, m - runmin AS ph FROM r),
        |mx AS (SELECT count(*) AS n,
        |  max({'ph': ph, 'nd': -day}) AS mx FROM p)
        |SELECT n AS n_days,
        |  floor(CAST(struct_extract(mx, 'ph') AS DOUBLE) / 1.0e8
        |    * 10000.0 + 0.5) / 10000.0 AS ph_max,
        |  CAST(-struct_extract(mx, 'nd') AS BIGINT) AS drift_day
        |FROM mx""".stripMargin,

    // position-of-extremum via ROW extrema windows (Spark struct max/min
    // and DuckDB ROW comparisons share lexicographic tie semantics)
    "win_aroon" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT g, day, c, CAST(row_number() OVER (PARTITION BY g
        |    ORDER BY day) AS BIGINT) AS rn FROM daily),
        |ext AS (
        |  SELECT g, day, rn,
        |    struct_extract(max({'c': c, 'rn': rn}) OVER w14, 'rn') AS mxrn,
        |    -struct_extract(min({'c': c, 'nrn': -rn}) OVER w14, 'nrn')
        |      AS mnrn
        |  FROM spine WINDOW w14 AS (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |a AS (
        |  SELECT g, day,
        |    floor((14.0 - (CAST(rn AS DOUBLE) - CAST(mxrn AS DOUBLE))) *
        |      100.0 / 14.0 * 10000.0 + 0.5) / 10000.0 AS aroon_up,
        |    floor((14.0 - (CAST(rn AS DOUBLE) - CAST(mnrn AS DOUBLE))) *
        |      100.0 / 14.0 * 10000.0 + 0.5) / 10000.0 AS aroon_down
        |  FROM ext)
        |SELECT g AS event_type, day, aroon_up, aroon_down,
        |  aroon_up > aroon_down AS bullish
        |FROM a ORDER BY event_type, day""".stripMargin,

    // OLS over the day spine from exact moments, per-row residual
    // re-quantized to integer cents, HUGEINT DW sums (r14 wave A)
    "agg_durbin_watson" ->
      """WITH days AS (
        |  SELECT epoch_ms(l_shipdate) // 86400000 AS day,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1),
        |spine AS (
        |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x
        |  FROM days),
        |m AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM spine),
        |ab AS (
        |  SELECT n, sx, sy,
        |    (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
        |  FROM m),
        |ab2 AS (SELECT n, b,
        |  (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |    AS a FROM ab),
        |eq AS (
        |  SELECT n, x, CAST(floor(CAST(y AS DOUBLE) -
        |    (a + b * CAST(x AS DOUBLE)) + 0.5) AS BIGINT) AS e
        |  FROM spine, ab2),
        |eq2 AS (SELECT n, e, lag(e) OVER (ORDER BY x) AS pe FROM eq),
        |f AS (
        |  SELECT n, sum(CAST(e AS HUGEINT) * e) AS see,
        |    sum(CASE WHEN pe IS NOT NULL
        |      THEN CAST(e - pe AS HUGEINT) * (e - pe) ELSE 0 END) AS sdd
        |  FROM eq2 GROUP BY n)
        |SELECT n AS n_days,
        |  floor(CAST(CAST(sdd AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(see AS VARCHAR) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS dw,
        |  floor((1.0 - CAST(CAST(sdd AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(see AS VARCHAR) AS DOUBLE) / 2.0) * 10000.0 + 0.5)
        |    / 10000.0 AS rho_hat
        |FROM f""".stripMargin,

    // per-type micro-return series (the win_garch leg), exact-moment
    // sample ACF at lags 1..5, LB portmanteau vs chi2(5) 5% (r14 wave A)
    "agg_ljung_box" -> ljungBoxStyleSql(5,
      """SELECT g AS event_type, n AS n_days,
        |  floor(rho1 * 10000.0 + 0.5) / 10000.0 AS rho1,
        |  floor(rho2 * 10000.0 + 0.5) / 10000.0 AS rho2,
        |  floor(rho5 * 10000.0 + 0.5) / 10000.0 AS rho5,
        |  floor(lb * 10000.0 + 0.5) / 10000.0 AS lb_stat,
        |  lb > 11.0705 AS autocorrelated_5pct
        |FROM rhos ORDER BY event_type""".stripMargin),

    // ACF at lags 1..2 + the closed-form AR(2) Yule-Walker solve
    "agg_yule_walker" -> ljungBoxStyleSql(2,
      """SELECT g AS event_type, n AS n_days,
        |  floor(rho1 * 10000.0 + 0.5) / 10000.0 AS rho1,
        |  floor(rho2 * 10000.0 + 0.5) / 10000.0 AS rho2,
        |  floor(phi1 * 10000.0 + 0.5) / 10000.0 AS phi1,
        |  floor(phi2 * 10000.0 + 0.5) / 10000.0 AS phi2,
        |  floor((1.0 - phi1 * rho1 - phi2 * rho2) * 10000.0 + 0.5)
        |    / 10000.0 AS innov_var_ratio
        |FROM (SELECT g, n, rho1, rho2,
        |    rho1 * (1.0 - rho2) / (1.0 - rho1 * rho1) AS phi1,
        |    (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) AS phi2
        |  FROM rhos) ORDER BY event_type""".stripMargin),

    // squared micro-returns on their lag: exact-moment correlation, LM =
    // n R^2 vs chi2(1) 5%
    "agg_engle_arch" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT g, d, ((c - pc) * 1000000) // pc AS rq
        |  FROM (SELECT g, d, c, lag(c) OVER (PARTITION BY g ORDER BY d)
        |    AS pc FROM daily)
        |  WHERE pc > 0),
        |u AS (
        |  SELECT g, u, pu FROM (
        |    SELECT g, rq * rq AS u,
        |      lag(rq * rq) OVER (PARTITION BY g ORDER BY d) AS pu
        |    FROM r) WHERE pu IS NOT NULL),
        |s AS (
        |  SELECT g, count(*) AS n,
        |    sum(CAST(pu AS HUGEINT)) AS sx, sum(CAST(u AS HUGEINT)) AS sy,
        |    sum(CAST(pu AS HUGEINT) * pu) AS sxx,
        |    sum(CAST(u AS HUGEINT) * u) AS syy,
        |    sum(CAST(pu AS HUGEINT) * u) AS sxy
        |  FROM u GROUP BY 1),
        |t AS (
        |  SELECT g, n,
        |    (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE) *
        |        CAST(CAST(sy AS VARCHAR) AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE) *
        |        CAST(CAST(sx AS VARCHAR) AS DOUBLE)) *
        |     (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sy AS VARCHAR) AS DOUBLE) *
        |        CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS r
        |  FROM s)
        |SELECT g AS event_type, n AS n_days,
        |  floor(r * r * 10000.0 + 0.5) / 10000.0 AS r_squared,
        |  floor(CAST(n AS DOUBLE) * r * r * 10000.0 + 0.5) / 10000.0
        |    AS lm_stat,
        |  CAST(n AS DOUBLE) * r * r > 3.8415 AS arch_5pct
        |FROM t ORDER BY event_type""".stripMargin,

    // view->purchase lagged 2-regressor OLS from exact centered moments,
    // F vs the declared 3.8415 critical value
    "agg_granger" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT g, d, ((c - pc) * 1000000) // pc AS rq
        |  FROM (SELECT g, d, c, lag(c) OVER (PARTITION BY g ORDER BY d)
        |    AS pc FROM daily)
        |  WHERE pc > 0),
        |xy AS (
        |  SELECT y.d, y.rq AS ry, x.rq AS rx
        |  FROM (SELECT d, rq FROM r WHERE g = 'purchase') y
        |  JOIN (SELECT d, rq FROM r WHERE g = 'view') x ON y.d = x.d),
        |lagged AS (
        |  SELECT ry, z1, z2 FROM (
        |    SELECT ry, lag(ry) OVER (ORDER BY d) AS z1,
        |      lag(rx) OVER (ORDER BY d) AS z2
        |    FROM xy) WHERE z1 IS NOT NULL AND z2 IS NOT NULL),
        |s AS (
        |  SELECT count(*) AS n, CAST(sum(ry) AS BIGINT) AS sy,
        |    CAST(sum(z1) AS BIGINT) AS s1, CAST(sum(z2) AS BIGINT) AS s2,
        |    sum(CAST(z1 AS HUGEINT) * z1) AS s11,
        |    sum(CAST(z2 AS HUGEINT) * z2) AS s22,
        |    sum(CAST(z1 AS HUGEINT) * z2) AS s12,
        |    sum(CAST(z1 AS HUGEINT) * ry) AS s1y,
        |    sum(CAST(z2 AS HUGEINT) * ry) AS s2y,
        |    sum(CAST(ry AS HUGEINT) * ry) AS syy
        |  FROM lagged),
        |cm AS (
        |  SELECT n,
        |    CAST(CAST(s11 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
        |    CAST(CAST(s22 AS VARCHAR) AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
        |    CAST(CAST(s12 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
        |    CAST(CAST(s1y AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c1y,
        |    CAST(CAST(s2y AS VARCHAR) AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c2y,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(sy AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy
        |  FROM s),
        |fit AS (
        |  SELECT n, c1y, c2y, cyy, c11,
        |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b,
        |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS c
        |  FROM cm),
        |fin AS (
        |  SELECT n, b, c, cyy - b * c1y - c * c2y AS rssu,
        |    cyy - c1y * c1y / c11 AS rssr
        |  FROM fit)
        |SELECT n AS n_days,
        |  floor(b * 10000.0 + 0.5) / 10000.0 AS beta_own_lag,
        |  floor(c * 10000.0 + 0.5) / 10000.0 AS beta_view_lag,
        |  floor((rssr - rssu) / (rssu / (CAST(n AS DOUBLE) - 3.0))
        |    * 10000.0 + 0.5) / 10000.0 AS f_stat,
        |  (rssr - rssu) / (rssu / (CAST(n AS DOUBLE) - 3.0)) > 3.8415
        |    AS granger_5pct
        |FROM fin""".stripMargin,

    // per-customer cent totals, nano-quantized ln sums, Atkinson(eps=1)
    "agg_atkinson" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1 HAVING sum(CAST(round(o_totalprice * 100)
        |    AS BIGINT)) > 0),
        |seg AS (
        |  SELECT c_mktsegment, count(*) AS n_customers,
        |    CAST(sum(cents) AS BIGINT) AS sc,
        |    CAST(sum(CAST(floor(ln(CAST(cents AS DOUBLE)) * 1000000000.0
        |      + 0.5) AS BIGINT)) AS BIGINT) AS slnq
        |  FROM pc JOIN customer ON o_custkey = c_custkey GROUP BY 1)
        |SELECT c_mktsegment, n_customers,
        |  floor(CAST(sc AS DOUBLE) / CAST(n_customers AS DOUBLE) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS mean_rev,
        |  floor((1.0 - exp(CAST(slnq AS DOUBLE) / 1000000000.0 /
        |      CAST(n_customers AS DOUBLE)) /
        |    (CAST(sc AS DOUBLE) / CAST(n_customers AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS atkinson
        |FROM seg ORDER BY c_mktsegment""".stripMargin,

    // the multi-artifact sweep's per-store before/after counts, all
    // derivable from the pristine journal: a hash match proves every
    // user-keyed derived store dropped exactly the cohort's rows and the
    // user-less control store was untouched
    "sink_gdpr_purge_deep" ->
      """WITH j AS (
        |  SELECT count(*) AS b,
        |    sum(CASE WHEN user_id % 97 <> 0 THEN 1 ELSE 0 END) AS a
        |  FROM events),
        |ud AS (
        |  SELECT count(*) AS b,
        |    sum(CASE WHEN user_id % 97 <> 0 THEN 1 ELSE 0 END) AS a
        |  FROM (SELECT user_id, epoch_ms(ts) // 86400000 AS day
        |        FROM events GROUP BY 1, 2)),
        |es AS (
        |  SELECT count(*) AS b,
        |    sum(CASE WHEN user_id % 97 <> 0 THEN 1 ELSE 0 END) AS a
        |  FROM (SELECT user_id, event_type FROM events GROUP BY 1, 2)),
        |hh AS (
        |  SELECT count(*) AS b
        |  FROM (SELECT epoch_ms(ts) // 3600000 FROM events GROUP BY 1))
        |SELECT * FROM (
        |  SELECT 'edge_state' AS artifact, TRUE AS had_key,
        |    CAST(b AS BIGINT) AS n_before, CAST(a AS BIGINT) AS n_after,
        |    CAST(b - a AS BIGINT) AS n_rows_purged FROM es
        |  UNION ALL SELECT 'journal', TRUE, CAST(b AS BIGINT),
        |    CAST(a AS BIGINT), CAST(b - a AS BIGINT) FROM j
        |  UNION ALL SELECT 'mview_hourly', FALSE, CAST(b AS BIGINT),
        |    CAST(b AS BIGINT), CAST(0 AS BIGINT) FROM hh
        |  UNION ALL SELECT 'mview_user_day', TRUE, CAST(b AS BIGINT),
        |    CAST(a AS BIGINT), CAST(b - a AS BIGINT) FROM ud)
        |ORDER BY artifact""".stripMargin,

    // audit recomputed from the pristine journal — a hash match proves the
    // purged rewrite dropped exactly the cohort and nothing else
    "sink_gdpr_purge" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day, user_id,
        |    user_id % 97 = 0 AS f
        |  FROM events)
        |SELECT day,
        |  CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
        |  CAST(count(DISTINCT CASE WHEN f THEN user_id END) AS BIGINT)
        |    AS n_users_purged
        |FROM e GROUP BY 1 ORDER BY day""".stripMargin,

    // exact k-th order-statistic thresholds (k = ceil(0.05n)), joint tail
    // counts, two quantized divides
    "agg_tail_dependence" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1 HAVING x IS NOT NULL AND y IS NOT NULL),
        |ranked AS (
        |  SELECT
        |    row_number() OVER (ORDER BY x DESC, day) AS rxd,
        |    row_number() OVER (ORDER BY y DESC, day) AS ryd,
        |    row_number() OVER (ORDER BY x, day) AS rxa,
        |    row_number() OVER (ORDER BY y, day) AS rya
        |  FROM daily),
        |nn AS (SELECT count(*) AS n, (count(*) * 5 + 99) // 100 AS k
        |  FROM daily)
        |SELECT CAST(max(n) AS BIGINT) AS n_days,
        |  CAST(max(k) AS BIGINT) AS k_tail,
        |  floor(CAST(sum(CASE WHEN rxd <= k AND ryd <= k THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(max(k) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS lambda_upper,
        |  floor(CAST(sum(CASE WHEN rxa <= k AND rya <= k THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(max(k) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS lambda_lower,
        |  floor(CAST(max(k) AS DOUBLE) / CAST(max(n) AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS independence_baseline
        |FROM ranked, nn""".stripMargin,

    // sign-state triples, nano-quantized ln per OBSERVED triple, exact
    // c3-weighted BIGINT fold; both directions
    "agg_transfer_entropy" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS xc,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS yc
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1 HAVING xc IS NOT NULL AND yc IS NOT NULL),
        |st1 AS (
        |  SELECT day,
        |    CAST(sign(xc - lag(xc) OVER (ORDER BY day)) AS BIGINT) AS x,
        |    CAST(sign(yc - lag(yc) OVER (ORDER BY day)) AS BIGINT) AS y
        |  FROM daily),
        |st2 AS (
        |  SELECT x, y, lag(x) OVER (ORDER BY day) AS x1,
        |    lag(y) OVER (ORDER BY day) AS y1
        |  FROM st1 WHERE x IS NOT NULL),
        |st AS (SELECT x, y, x1, y1 FROM st2 WHERE x1 IS NOT NULL),
        |cxy3 AS (SELECT y AS yt, y1, x1, count(*) AS c3 FROM st
        |  GROUP BY 1, 2, 3),
        |cxy AS (
        |  SELECT CAST(sum(c3) AS BIGINT) AS n,
        |    CAST(sum(c3 * CAST(floor(ln(
        |      CAST(c3 * c1 AS DOUBLE) / CAST(c2 * cy AS DOUBLE))
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS teq
        |  FROM (
        |    SELECT t.c3, c2.c2, cy.cy, c1.c1 FROM cxy3 t
        |    JOIN (SELECT y1, x1, CAST(sum(c3) AS BIGINT) AS c2 FROM cxy3
        |      GROUP BY 1, 2) c2 ON t.y1 = c2.y1 AND t.x1 = c2.x1
        |    JOIN (SELECT yt, y1, CAST(sum(c3) AS BIGINT) AS cy FROM cxy3
        |      GROUP BY 1, 2) cy ON t.yt = cy.yt AND t.y1 = cy.y1
        |    JOIN (SELECT y1, CAST(sum(c3) AS BIGINT) AS c1 FROM cxy3
        |      GROUP BY 1) c1 ON t.y1 = c1.y1)),
        |cyx3 AS (SELECT x AS yt, x1 AS y1, y1 AS x1, count(*) AS c3 FROM st
        |  GROUP BY 1, 2, 3),
        |cyx AS (
        |  SELECT CAST(sum(c3) AS BIGINT) AS n2,
        |    CAST(sum(c3 * CAST(floor(ln(
        |      CAST(c3 * c1 AS DOUBLE) / CAST(c2 * cy AS DOUBLE))
        |      * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS teq2
        |  FROM (
        |    SELECT t.c3, c2.c2, cy.cy, c1.c1 FROM cyx3 t
        |    JOIN (SELECT y1, x1, CAST(sum(c3) AS BIGINT) AS c2 FROM cyx3
        |      GROUP BY 1, 2) c2 ON t.y1 = c2.y1 AND t.x1 = c2.x1
        |    JOIN (SELECT yt, y1, CAST(sum(c3) AS BIGINT) AS cy FROM cyx3
        |      GROUP BY 1, 2) cy ON t.yt = cy.yt AND t.y1 = cy.y1
        |    JOIN (SELECT y1, CAST(sum(c3) AS BIGINT) AS c1 FROM cyx3
        |      GROUP BY 1) c1 ON t.y1 = c1.y1))
        |SELECT n AS n_triples,
        |  floor(CAST(teq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0)
        |    * 10000.0 + 0.5) / 10000.0 AS te_click_to_purchase,
        |  floor(CAST(teq2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * 1000000000.0)
        |    * 10000.0 + 0.5) / 10000.0 AS te_purchase_to_click,
        |  (teq - teq2) > 0 AS click_leads
        |FROM cxy, cyx""".stripMargin,

    // per-type returns vs the market leg, exact DECIMAL cross-sums
    "agg_capm" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |mkt AS (
        |  SELECT day, ((mc - pm) * 1000000) // pm AS rm FROM (
        |    SELECT day, mc, lag(mc) OVER (ORDER BY day) AS pm FROM (
        |      SELECT day, CAST(sum(c) AS BIGINT) AS mc FROM daily
        |      GROUP BY 1))
        |  WHERE pm > 0),
        |ri AS (
        |  SELECT g, day, ((c - pc) * 1000000) // pc AS ri FROM (
        |    SELECT g, day, c, lag(c) OVER (PARTITION BY g ORDER BY day)
        |      AS pc FROM daily)
        |  WHERE pc > 0),
        |s AS (
        |  SELECT g, count(*) AS n, CAST(sum(ri) AS BIGINT) AS si,
        |    CAST(sum(rm) AS BIGINT) AS sm,
        |    CAST(CAST(sum(CAST(rm AS HUGEINT) * rm) AS VARCHAR) AS DOUBLE)
        |      AS smm,
        |    CAST(CAST(sum(CAST(ri AS HUGEINT) * ri) AS VARCHAR) AS DOUBLE)
        |      AS sii,
        |    CAST(CAST(sum(CAST(ri AS HUGEINT) * rm) AS VARCHAR) AS DOUBLE)
        |      AS sim
        |  FROM ri JOIN mkt USING (day) GROUP BY 1),
        |b AS (
        |  SELECT g, n,
        |    (CAST(n AS DOUBLE) * sim - CAST(si AS DOUBLE) *
        |      CAST(sm AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) *
        |      CAST(sm AS DOUBLE)) AS beta,
        |    (CAST(n AS DOUBLE) * sim - CAST(si AS DOUBLE) *
        |      CAST(sm AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) *
        |        CAST(sm AS DOUBLE)) *
        |      (CAST(n AS DOUBLE) * sii - CAST(si AS DOUBLE) *
        |        CAST(si AS DOUBLE))) AS r,
        |    si, sm
        |  FROM s)
        |SELECT g AS event_type, n AS n_days,
        |  floor(beta * 10000.0 + 0.5) / 10000.0 AS beta,
        |  floor((CAST(si AS DOUBLE) - beta * CAST(sm AS DOUBLE)) /
        |    CAST(n AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0
        |    AS alpha_daily,
        |  floor(r * r * 10000.0 + 0.5) / 10000.0 AS r_squared
        |FROM b ORDER BY event_type""".stripMargin,

    // doubled average ranks (2r + t - 1 exact), Pearson formula on ranks;
    // raw-value r ships next to rho
    "agg_spearman" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS vol
        |  FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT rev, vol,
        |    2 * rank() OVER (ORDER BY rev) +
        |      count(*) OVER (PARTITION BY rev) - 1 AS ra,
        |    2 * rank() OVER (ORDER BY vol) +
        |      count(*) OVER (PARTITION BY vol) - 1 AS rb
        |  FROM daily),
        |s AS (
        |  SELECT count(*) AS n, CAST(sum(ra) AS BIGINT) AS sa,
        |    CAST(sum(rb) AS BIGINT) AS sb,
        |    CAST(sum(ra * ra) AS BIGINT) AS saa,
        |    CAST(sum(rb * rb) AS BIGINT) AS sbb,
        |    CAST(sum(ra * rb) AS BIGINT) AS sab,
        |    CAST(sum(rev) AS BIGINT) AS sx, CAST(sum(vol) AS BIGINT) AS sy,
        |    CAST(CAST(sum(CAST(rev AS HUGEINT) * rev) AS VARCHAR)
        |      AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(vol AS HUGEINT) * vol) AS VARCHAR)
        |      AS DOUBLE) AS syy,
        |    CAST(CAST(sum(CAST(rev AS HUGEINT) * vol) AS VARCHAR)
        |      AS DOUBLE) AS sxy
        |  FROM ranked)
        |SELECT n AS n_days,
        |  floor((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) -
        |        CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
        |      (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) -
        |        CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS spearman_rho,
        |  floor((CAST(n AS DOUBLE) * sxy -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * sxx -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      (CAST(n AS DOUBLE) * syy -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS pearson_r
        |FROM s""".stripMargin,

    // within-day doubled ranks over complete blocks, exact S.4k2 and tie
    // terms, W and chi2 fixed trees
    "agg_friedman" ->
      """WITH cell AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day, event_type AS g,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |full_ AS (
        |  SELECT * FROM (
        |    SELECT day, g, v, count(*) OVER (PARTITION BY day) AS nk
        |    FROM cell) WHERE nk = 5),
        |ranked AS (
        |  SELECT day, g, v,
        |    2 * rank() OVER (PARTITION BY day ORDER BY v) +
        |      count(*) OVER (PARTITION BY day, v) - 1 AS r2
        |  FROM full_),
        |ties AS (
        |  SELECT CAST(sum(td) AS BIGINT) AS tsum, count(*) AS n FROM (
        |    SELECT day, CAST(sum(t * t * t - t) AS BIGINT) AS td FROM (
        |      SELECT day, v, count(*) AS t FROM ranked GROUP BY 1, 2)
        |    GROUP BY 1)),
        |perg AS (SELECT g, CAST(sum(r2) AS BIGINT) AS r2g
        |  FROM ranked GROUP BY 1),
        |tot AS (SELECT CAST(sum(r2g) AS BIGINT) AS r2tot FROM perg),
        |s4 AS (
        |  SELECT CAST(sum((5 * r2g - r2tot) * (5 * r2g - r2tot))
        |    AS BIGINT) AS s4k2
        |  FROM perg, tot),
        |fin AS (
        |  SELECT n, CAST(s4k2 AS DOUBLE) / 100.0 AS sexact,
        |    CAST(n * n * 5 * 24 - n * tsum AS DOUBLE) AS den
        |  FROM s4, ties),
        |w AS (SELECT n, 12.0 * sexact / den AS w,
        |  CAST(n AS DOUBLE) * 4.0 * (12.0 * sexact / den) AS chi2
        |  FROM fin)
        |SELECT n AS n_days, CAST(5 AS BIGINT) AS k,
        |  floor(w * 10000.0 + 0.5) / 10000.0 AS kendall_w,
        |  floor(chi2 * 10000.0 + 0.5) / 10000.0 AS friedman_chi2,
        |  chi2 > 9.488 AS signif_5pct
        |FROM w""".stripMargin,

    // +-DM/TR rows-frame sums collapse the DI ratio to exact divides; DX
    // micro-quantized before the ADX mean
    "win_adx" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS low,
        |    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS high,
        |    max({'ms': epoch_ms(ts), 'event_id': event_id,
        |      'c': CAST(round(value * 100) AS BIGINT)}).c AS close
        |  FROM events GROUP BY 1),
        |dm AS (
        |  SELECT d, high, low,
        |    greatest(high - ph, 0) AS up, greatest(pl - low, 0) AS dn,
        |    greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
        |  FROM (
        |    SELECT d, high, low,
        |      lag(high) OVER (ORDER BY d) AS ph,
        |      lag(low) OVER (ORDER BY d) AS pl,
        |      lag(close) OVER (ORDER BY d) AS pc
        |    FROM daily)
        |  WHERE ph IS NOT NULL),
        |dmc AS (
        |  SELECT d,
        |    CASE WHEN up > dn THEN up ELSE 0 END AS dmp,
        |    CASE WHEN dn > up THEN dn ELSE 0 END AS dmm, tr
        |  FROM dm),
        |di AS (
        |  SELECT d, sp, sm, st,
        |    (abs(sp - sm) * 100000000) // (sp + sm) AS dxq
        |  FROM (
        |    SELECT d,
        |      CAST(sum(dmp) OVER w14 AS BIGINT) AS sp,
        |      CAST(sum(dmm) OVER w14 AS BIGINT) AS sm,
        |      CAST(sum(tr) OVER w14 AS BIGINT) AS st
        |    FROM dmc WINDOW w14 AS (ORDER BY d ROWS BETWEEN 13 PRECEDING
        |      AND CURRENT ROW))
        |  WHERE st > 0 AND sp + sm > 0)
        |SELECT d,
        |  floor(100.0 * CAST(sp AS DOUBLE) / CAST(st AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS di_plus,
        |  floor(100.0 * CAST(sm AS DOUBLE) / CAST(st AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS di_minus,
        |  floor(CAST(dxq AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS dx,
        |  floor(CAST(sum(dxq) OVER w14 AS DOUBLE) /
        |    CAST(count(*) OVER w14 AS DOUBLE) / 1000000.0
        |    * 10000.0 + 0.5) / 10000.0 AS adx_14
        |FROM di WINDOW w14 AS (ORDER BY d ROWS BETWEEN 13 PRECEDING
        |  AND CURRENT ROW)
        |ORDER BY d""".stripMargin,

    // Engle-Granger: exact-sum OLS, centi-cent quantized residuals, exact
    // DF sums over the day-spine lag; HUGEINT->double via VARCHAR
    "agg_cointegration" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1
        |  HAVING x IS NOT NULL AND y IS NOT NULL),
        |ols AS (
        |  SELECT n, sx, sy, b, (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS a
        |  FROM (
        |    SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |      CAST(sum(y) AS BIGINT) AS sy,
        |      (CAST(count(*) AS DOUBLE) *
        |        CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
        |        - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE)) /
        |      (CAST(count(*) AS DOUBLE) *
        |        CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE)
        |        - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) AS b
        |    FROM daily)),
        |e AS (
        |  SELECT day, n, a, b,
        |    CAST(floor((CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE))
        |      * 100.0 + 0.5) AS BIGINT) AS eq
        |  FROM daily, ols),
        |lagd AS (
        |  SELECT n, a, b, eq, lag(eq) OVER (ORDER BY day) AS pe
        |  FROM e),
        |s AS (
        |  SELECT max(n) AS n, max(a) AS a, max(b) AS b, count(*) AS m,
        |    CAST(CAST(sum(CAST(pe AS HUGEINT) * pe) AS VARCHAR) AS DOUBLE)
        |      AS s1,
        |    CAST(CAST(sum(CAST(pe AS HUGEINT) * (eq - pe)) AS VARCHAR)
        |      AS DOUBLE) AS s2,
        |    CAST(CAST(sum(CAST(eq - pe AS HUGEINT) * (eq - pe)) AS VARCHAR)
        |      AS DOUBLE) AS s3
        |  FROM lagd WHERE pe IS NOT NULL),
        |t AS (
        |  SELECT n, a, b, s2 / s1 AS rho,
        |    (s2 / s1) / sqrt(((s3 - (s2 / s1) * s2) /
        |      (CAST(m AS DOUBLE) - 1.0)) / s1) AS tstat
        |  FROM s)
        |SELECT n AS n_days,
        |  floor(b * 10000.0 + 0.5) / 10000.0 AS beta,
        |  floor(a / 100.0 * 10000.0 + 0.5) / 10000.0 AS alpha,
        |  floor(rho * 10000.0 + 0.5) / 10000.0 AS rho,
        |  floor(tstat * 10000.0 + 0.5) / 10000.0 AS adf_t,
        |  tstat < -3.34 AS cointegrated_5pct
        |FROM t""".stripMargin,

    // truncated variance-recursion fold over the PRIOR 30 returns
    // (one-step-ahead sigma: rows -30..-1, never the contemporaneous
    // return; list_reduce with the long-run variance prepended as init)
    "win_garch" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT g, d, ((c - pc) * 1000000) // pc AS rq
        |  FROM (SELECT g, d, c, lag(c) OVER (PARTITION BY g ORDER BY d)
        |    AS pc FROM daily)
        |  WHERE pc > 0),
        |vb AS (
        |  SELECT g,
        |    CAST(CAST(sum(CAST(rq AS HUGEINT) * rq) AS VARCHAR) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) / 1e12 AS vbar
        |  FROM r GROUP BY 1),
        |f AS (
        |  SELECT r.g, d, rq, vbar,
        |    list(CAST(rq AS DOUBLE) / 1000000.0) OVER
        |      (PARTITION BY r.g ORDER BY d ROWS BETWEEN 30 PRECEDING
        |       AND 1 PRECEDING) AS vs
        |  FROM r JOIN vb ON r.g = vb.g),
        |s AS (
        |  SELECT g, d, rq, vbar,
        |    list_reduce(list_prepend(vbar, vs), (acc, x) ->
        |      0.05 * vbar + 0.1 * x * x + 0.85 * acc) AS s2
        |  FROM f)
        |SELECT g AS event_type, d,
        |  floor(CAST(rq AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0
        |    AS ret,
        |  floor(sqrt(s2) * 10000.0 + 0.5) / 10000.0 AS sigma,
        |  s2 > 2.0 * vbar AS high_vol
        |FROM s ORDER BY event_type, d""".stripMargin,

    // segment power sums off one scan (half split vs the broadcast count),
    // RSS trees and the Chow F fixed doubles
    "agg_chow_test" ->
      """WITH days AS (
        |  SELECT epoch_ms(l_shipdate) // 86400000 AS day,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1),
        |spine AS (
        |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x
        |  FROM days),
        |half AS (SELECT count(*) // 2 AS h, count(*) AS n FROM spine),
        |sums AS (
        |  SELECT
        |    count(*) AS pn, CAST(sum(x) AS BIGINT) AS psx,
        |    CAST(sum(y) AS BIGINT) AS psy,
        |    CAST(sum(x * x) AS BIGINT) AS psxx,
        |    CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
        |      AS psxy,
        |    CAST(CAST(sum(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
        |      AS psyy,
        |    CAST(sum(CASE WHEN x <= h THEN 1 ELSE 0 END) AS BIGINT) AS an,
        |    CAST(sum(CASE WHEN x <= h THEN x ELSE 0 END) AS BIGINT) AS asx,
        |    CAST(sum(CASE WHEN x <= h THEN y ELSE 0 END) AS BIGINT) AS asy,
        |    CAST(sum(CASE WHEN x <= h THEN x * x ELSE 0 END) AS BIGINT)
        |      AS asxx,
        |    CAST(CAST(sum(CASE WHEN x <= h THEN CAST(x AS HUGEINT) * y
        |      ELSE 0 END) AS VARCHAR) AS DOUBLE) AS asxy,
        |    CAST(CAST(sum(CASE WHEN x <= h THEN CAST(y AS HUGEINT) * y
        |      ELSE 0 END) AS VARCHAR) AS DOUBLE) AS asyy,
        |    CAST(sum(CASE WHEN x > h THEN 1 ELSE 0 END) AS BIGINT) AS bn,
        |    CAST(sum(CASE WHEN x > h THEN x ELSE 0 END) AS BIGINT) AS bsx,
        |    CAST(sum(CASE WHEN x > h THEN y ELSE 0 END) AS BIGINT) AS bsy,
        |    CAST(sum(CASE WHEN x > h THEN x * x ELSE 0 END) AS BIGINT)
        |      AS bsxx,
        |    CAST(CAST(sum(CASE WHEN x > h THEN CAST(x AS HUGEINT) * y
        |      ELSE 0 END) AS VARCHAR) AS DOUBLE) AS bsxy,
        |    CAST(CAST(sum(CASE WHEN x > h THEN CAST(y AS HUGEINT) * y
        |      ELSE 0 END) AS VARCHAR) AS DOUBLE) AS bsyy
        |  FROM spine, half),
        |rss AS (
        |  SELECT pn, an,
        |    (psyy - ((CAST(psy AS DOUBLE) -
        |      ((CAST(pn AS DOUBLE) * psxy - CAST(psx AS DOUBLE) *
        |        CAST(psy AS DOUBLE)) / (CAST(pn AS DOUBLE) *
        |        CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) *
        |        CAST(psx AS DOUBLE))) * CAST(psx AS DOUBLE)) /
        |      CAST(pn AS DOUBLE)) * CAST(psy AS DOUBLE) -
        |      ((CAST(pn AS DOUBLE) * psxy - CAST(psx AS DOUBLE) *
        |        CAST(psy AS DOUBLE)) / (CAST(pn AS DOUBLE) *
        |        CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) *
        |        CAST(psx AS DOUBLE))) * psxy) / 1e4 AS rp,
        |    (asyy - ((CAST(asy AS DOUBLE) -
        |      ((CAST(an AS DOUBLE) * asxy - CAST(asx AS DOUBLE) *
        |        CAST(asy AS DOUBLE)) / (CAST(an AS DOUBLE) *
        |        CAST(asxx AS DOUBLE) - CAST(asx AS DOUBLE) *
        |        CAST(asx AS DOUBLE))) * CAST(asx AS DOUBLE)) /
        |      CAST(an AS DOUBLE)) * CAST(asy AS DOUBLE) -
        |      ((CAST(an AS DOUBLE) * asxy - CAST(asx AS DOUBLE) *
        |        CAST(asy AS DOUBLE)) / (CAST(an AS DOUBLE) *
        |        CAST(asxx AS DOUBLE) - CAST(asx AS DOUBLE) *
        |        CAST(asx AS DOUBLE))) * asxy) / 1e4 AS r1,
        |    (bsyy - ((CAST(bsy AS DOUBLE) -
        |      ((CAST(bn AS DOUBLE) * bsxy - CAST(bsx AS DOUBLE) *
        |        CAST(bsy AS DOUBLE)) / (CAST(bn AS DOUBLE) *
        |        CAST(bsxx AS DOUBLE) - CAST(bsx AS DOUBLE) *
        |        CAST(bsx AS DOUBLE))) * CAST(bsx AS DOUBLE)) /
        |      CAST(bn AS DOUBLE)) * CAST(bsy AS DOUBLE) -
        |      ((CAST(bn AS DOUBLE) * bsxy - CAST(bsx AS DOUBLE) *
        |        CAST(bsy AS DOUBLE)) / (CAST(bn AS DOUBLE) *
        |        CAST(bsxx AS DOUBLE) - CAST(bsx AS DOUBLE) *
        |        CAST(bsx AS DOUBLE))) * bsxy) / 1e4 AS r2
        |  FROM sums),
        |f AS (
        |  SELECT pn, an, ((rp - r1 - r2) / 2.0) /
        |    ((r1 + r2) / (CAST(pn AS DOUBLE) - 4.0)) AS f
        |  FROM rss)
        |SELECT pn AS n_days, an AS n_first_half,
        |  floor(f * 10000.0 + 0.5) / 10000.0 AS f_stat,
        |  f > 3.0 AS break_detected
        |FROM f""".stripMargin,

    // jarque_bera-style quantized returns, per-day |r|/vol as 1e9-scale
    // BIGINT before the mean (order-free)
    "win_amihud" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS vol
        |  FROM events GROUP BY 1, 2),
        |lagd AS (
        |  SELECT g, rev, vol,
        |    lag(rev) OVER (PARTITION BY g ORDER BY d) AS pr
        |  FROM daily),
        |am AS (
        |  SELECT g,
        |    ((abs((rev - pr) * 1000000) // pr) * 1000) // vol AS amq
        |  FROM lagd WHERE pr > 0)
        |SELECT g AS event_type, count(*) AS n_days,
        |  floor(CAST(sum(amq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000000.0 * 10000.0 + 0.5) / 10000.0 AS illiq,
        |  floor(CAST(max(amq) AS DOUBLE) / 1000000000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS illiq_max
        |FROM am GROUP BY 1 ORDER BY event_type""".stripMargin,

    // ln enters once per day, nano-quantized before the mean (the
    // agg_chisq discipline); atr-style OHLC rollup
    "win_range_vol" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS low,
        |    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS high,
        |    min({'ms': epoch_ms(ts), 'event_id': event_id,
        |      'c': CAST(round(value * 100) AS BIGINT)}).c AS open,
        |    max({'ms': epoch_ms(ts), 'event_id': event_id,
        |      'c': CAST(round(value * 100) AS BIGINT)}).c AS close
        |  FROM events GROUP BY 1, 2),
        |lt AS (
        |  SELECT g, ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE)) AS lhl,
        |    ln(CAST(close AS DOUBLE) / CAST(open AS DOUBLE)) AS lco
        |  FROM daily WHERE low > 0 AND open > 0),
        |terms AS (
        |  SELECT g,
        |    CAST(floor(lhl * lhl * 1000000000.0 + 0.5) AS BIGINT) AS hl2q,
        |    CAST(floor(lco * lco * 1000000000.0 + 0.5) AS BIGINT) AS co2q
        |  FROM lt),
        |m AS (
        |  SELECT g, count(*) AS n_days,
        |    CAST(sum(hl2q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      / 1000000000.0 AS mhl,
        |    CAST(sum(co2q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      / 1000000000.0 AS mco
        |  FROM terms GROUP BY 1)
        |SELECT g AS event_type, n_days,
        |  floor(sqrt(mhl / (4.0 * ln(2.0))) * 10000.0 + 0.5) / 10000.0
        |    AS sigma_parkinson,
        |  floor(sqrt(greatest(0.0,
        |    0.5 * mhl - (2.0 * ln(2.0) - 1.0) * mco)) * 10000.0 + 0.5)
        |    / 10000.0 AS sigma_gk
        |FROM m ORDER BY event_type""".stripMargin,

    // R'/sqrt(V') per full block (all exact until the one sqrt),
    // nano-quantized means, 3-point slope = (ln m64 - ln m16)/(2 ln 2)
    "agg_hurst" ->
      """WITH days AS (
        |  SELECT epoch_ms(l_shipdate) // 86400000 AS d,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |spine AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
        |  FROM days),
        |rows_ AS (
        |  SELECT rn, x, bn, (rn - 1) // bn AS blk,
        |    ((rn - 1) % bn) + 1 AS k
        |  FROM spine, (SELECT UNNEST([CAST(16 AS BIGINT), 32, 64]) AS bn)),
        |stats AS (
        |  SELECT bn, blk, count(*) AS nb, CAST(sum(x) AS BIGINT) AS sb,
        |    sum(CAST(x AS HUGEINT) * x) AS sq
        |  FROM rows_ GROUP BY 1, 2 HAVING count(*) = max(bn)),
        |cums AS (
        |  SELECT r.bn, r.blk, r.k, s.sb, s.sq,
        |    CAST(sum(r.x) OVER (PARTITION BY r.bn, r.blk ORDER BY r.rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM rows_ r JOIN stats s ON r.bn = s.bn AND r.blk = s.blk),
        |blocks AS (
        |  SELECT bn, blk, max(bn * cum - k * sb) AS zmax,
        |    min(bn * cum - k * sb) AS zmin,
        |    max(sq) AS sqb, max(sb) AS sbb
        |  FROM cums GROUP BY 1, 2),
        |rs AS (
        |  SELECT bn,
        |    CAST(floor(CAST(zmax - zmin AS DOUBLE) /
        |      sqrt(CAST(CAST(CAST(bn AS HUGEINT) * sqb
        |        - CAST(sbb AS HUGEINT) * sbb AS VARCHAR) AS DOUBLE))
        |      * 1000000000.0 + 0.5) AS BIGINT) AS rsq
        |  FROM blocks
        |  WHERE CAST(bn AS HUGEINT) * sqb - CAST(sbb AS HUGEINT) * sbb > 0),
        |pern AS (
        |  SELECT bn, count(*) AS n_blocks,
        |    CAST(sum(rsq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      / 1000000000.0 AS mean_rs
        |  FROM rs GROUP BY 1),
        |h AS (
        |  SELECT (ln(max(CASE WHEN bn = 64 THEN mean_rs END)) -
        |    ln(max(CASE WHEN bn = 16 THEN mean_rs END))) /
        |    (2.0 * ln(2.0)) AS hurst
        |  FROM pern)
        |SELECT bn AS block_days, n_blocks,
        |  floor(mean_rs * 10000.0 + 0.5) / 10000.0 AS mean_rs,
        |  floor(hurst * 10000.0 + 0.5) / 10000.0 AS hurst
        |FROM pern, h ORDER BY block_days""".stripMargin,

    // signed volume off a type-partitioned lag, OBV a running BIGINT sum
    "win_obv" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS vol
        |  FROM events GROUP BY 1, 2),
        |sv AS (
        |  SELECT g, d, rev, vol,
        |    CASE WHEN lag(rev) OVER w IS NULL
        |        OR rev = lag(rev) OVER w THEN 0
        |      WHEN rev > lag(rev) OVER w THEN vol
        |      ELSE -vol END AS sv
        |  FROM daily WINDOW w AS (PARTITION BY g ORDER BY d))
        |SELECT g AS event_type, d, CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  vol AS volume,
        |  CAST(sum(sv) OVER (PARTITION BY g ORDER BY d ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM sv ORDER BY event_type, d""".stripMargin,

    // midpoints carried x2/x4 so the cloud verdict is an integer compare;
    // the 26-day forward shifts are lags over the day spine
    "win_ichimoku" ->
      """WITH daily AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS p
        |  FROM orders GROUP BY 1),
        |mids AS (
        |  SELECT d, p,
        |    max(p) OVER w9 + min(p) OVER w9 AS conv2,
        |    max(p) OVER w26 + min(p) OVER w26 AS base2,
        |    max(p) OVER w52 + min(p) OVER w52 AS sb2raw
        |  FROM daily WINDOW
        |    w9 AS (ORDER BY d ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (ORDER BY d ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |    w52 AS (ORDER BY d ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)),
        |sh AS (
        |  SELECT d, p, conv2, base2,
        |    lag(conv2 + base2, 26) OVER (ORDER BY d) AS span_a4,
        |    lag(sb2raw, 26) OVER (ORDER BY d) AS span_b2,
        |    lag(p, 26) OVER (ORDER BY d) AS p26
        |  FROM mids)
        |SELECT d, CAST(p AS DOUBLE) / 100.0 AS revenue,
        |  CAST(conv2 AS DOUBLE) / 200.0 AS conversion,
        |  CAST(base2 AS DOUBLE) / 200.0 AS base,
        |  CAST(span_a4 AS DOUBLE) / 400.0 AS span_a,
        |  CAST(span_b2 AS DOUBLE) / 200.0 AS span_b,
        |  4 * p > greatest(span_a4, 2 * span_b2) AS above_cloud,
        |  p > p26 AS chikou_bull
        |FROM sh WHERE span_a4 IS NOT NULL AND p26 IS NOT NULL
        |ORDER BY d""".stripMargin,

    // atr-style daily OHLC, rows-framed ATR mean, EMA(20) as the macd-style
    // truncated list_reduce fold; identical double trees on both engines
    "win_keltner" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS low,
        |    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS high,
        |    max({'ms': epoch_ms(ts), 'event_id': event_id,
        |      'c': CAST(round(value * 100) AS BIGINT)}).c AS close
        |  FROM events GROUP BY 1),
        |tr AS (
        |  SELECT d, close,
        |    CASE WHEN lag(close) OVER (ORDER BY d) IS NULL
        |      THEN high - low
        |      ELSE greatest(high - low,
        |        abs(high - lag(close) OVER (ORDER BY d)),
        |        abs(low - lag(close) OVER (ORDER BY d))) END AS tr
        |  FROM daily),
        |w AS (
        |  SELECT d, close,
        |    CAST(sum(tr) OVER w10 AS DOUBLE) /
        |      CAST(count(*) OVER w10 AS DOUBLE) AS atr,
        |    list(CAST(close AS DOUBLE)) OVER w20 AS vs
        |  FROM tr WINDOW
        |    w10 AS (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
        |    w20 AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |e AS (
        |  SELECT d, close, atr,
        |    list_reduce(vs, (acc, x) -> acc * 19.0 / 21.0 + x * 2.0 / 21.0)
        |      AS ema
        |  FROM w),
        |b AS (
        |  SELECT d, close, atr, ema,
        |    ema + 2.0 * atr AS upper, ema - 2.0 * atr AS lower
        |  FROM e)
        |SELECT d, CAST(close AS DOUBLE) / 100.0 AS close,
        |  ema / 100.0 AS ema20, atr / 100.0 AS atr10,
        |  upper / 100.0 AS band_upper, lower / 100.0 AS band_lower,
        |  CAST(close AS DOUBLE) > upper AS break_up,
        |  CAST(close AS DOUBLE) < lower AS break_down
        |FROM b ORDER BY d""".stripMargin,

    // value-collapsed average ranks (2r exact integer), HUGEINT rank sums
    // (mirrors Spark's DECIMAL(38,0) — Σc·r2 is O(|rows|²), past BIGINT at
    // ~1e9-1e10 rows), sorted-struct fold for the k-term double sum
    "agg_kruskal_wallis" ->
      """WITH e AS (
        |  SELECT event_type AS g, CAST(round(value * 10000) AS BIGINT) AS q
        |  FROM events),
        |bqg AS (SELECT q, g, count(*) AS c FROM e GROUP BY 1, 2),
        |r2f AS (
        |  SELECT q, ct, 2 * (cum - ct) + ct + 1 AS r2 FROM (
        |    SELECT q, CAST(sum(c) AS BIGINT) AS ct,
        |      CAST(sum(sum(c)) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM bqg GROUP BY q)),
        |perg AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS ng,
        |    sum(CAST(c AS HUGEINT) * r2) AS r2g
        |  FROM bqg JOIN r2f USING (q) GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(ct) AS BIGINT) AS n,
        |    sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tiesum
        |  FROM r2f),
        |folded AS (
        |  SELECT n, tiesum, count(*) AS k,
        |    list_sort(list({'g': g,
        |      'term': CAST(CAST(r2g AS VARCHAR) AS DOUBLE) *
        |        CAST(CAST(r2g AS VARCHAR) AS DOUBLE) /
        |        (4.0 * CAST(ng AS DOUBLE))})) AS arr
        |  FROM perg, tot GROUP BY n, tiesum),
        |hs AS (
        |  SELECT n, tiesum, k,
        |    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) *
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(arr, x -> x.term)), (acc, x) -> acc + x)
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
        |    1.0 - CAST(CAST(tiesum AS VARCHAR) AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
        |        CAST(n AS DOUBLE)) AS cadj
        |  FROM folded)
        |SELECT n, k,
        |  floor(h * 10000.0 + 0.5) / 10000.0 AS h_stat,
        |  floor(h / cadj * 10000.0 + 0.5) / 10000.0 AS h_tie_adj,
        |  floor((h - CAST(k AS DOUBLE) + 1.0) /
        |    (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * 10000.0 + 0.5)
        |    / 10000.0 AS eta_sq,
        |  floor(h * (CAST(n AS DOUBLE) + 1.0) /
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0) * 10000.0 + 0.5)
        |    / 10000.0 AS epsilon_sq
        |FROM hs""".stripMargin,

    // lower weighted median per group, exact |q-med| deviations, HUGEINT
    // z^2 sums (mirrors Spark's DECIMAL(38,0)), sorted-struct F fold
    "agg_levene" ->
      """WITH bqg AS (
        |  SELECT event_type AS g, CAST(round(value * 10000) AS BIGINT) AS q,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |ngf AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM bqg GROUP BY 1),
        |med AS (
        |  SELECT g, min(q) AS med FROM (
        |    SELECT g, q, c,
        |      CAST(sum(c) OVER (PARTITION BY g ORDER BY q ROWS BETWEEN
        |        UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM bqg) JOIN ngf USING (g)
        |  WHERE 2 * cum >= ng GROUP BY 1),
        |z AS (
        |  SELECT bqg.g, c, abs(q - med) AS z
        |  FROM bqg JOIN med ON bqg.g = med.g),
        |perg AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS ng,
        |    CAST(sum(c * z) AS BIGINT) AS sz,
        |    sum(CAST(c AS HUGEINT) * z * z) AS szz
        |  FROM z GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(c * z) AS BIGINT) AS s FROM z),
        |terms AS (
        |  SELECT g, n,
        |    CAST(ng AS DOUBLE) *
        |      (CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) -
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) -
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssb,
        |    CAST(CAST(szz AS VARCHAR) AS DOUBLE) - CAST(sz AS DOUBLE) *
        |      CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) AS ssw
        |  FROM perg, tot),
        |folded AS (
        |  SELECT n, count(*) AS k,
        |    list_sort(list({'g': g, 'ssb': ssb, 'ssw': ssw})) AS arr
        |  FROM terms GROUP BY n)
        |SELECT n, k,
        |  floor((list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.ssb)), (acc, x) -> acc + x) /
        |      CAST(k - 1 AS DOUBLE)) /
        |    (list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.ssw)), (acc, x) -> acc + x) /
        |      CAST(n - k AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS f_stat
        |FROM folded""".stripMargin,

    // micro-quantized returns ((dc*1e6) // prev — // truncates toward zero
    // like Spark's div), HUGEINT power sums, skew_kurt e-moment tree
    "agg_jarque_bera" ->
      """WITH daily AS (
        |  SELECT event_type AS g, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |lagd AS (
        |  SELECT g, c, lag(c, 1) OVER (PARTITION BY g ORDER BY d) AS pc
        |  FROM daily),
        |r AS (
        |  SELECT g, ((c - pc) * 1000000) // pc AS r
        |  FROM lagd WHERE pc > 0),
        |sums AS (
        |  SELECT g, count(*) AS n, CAST(sum(r) AS BIGINT) AS s1,
        |    sum(CAST(r AS HUGEINT) * r) AS s2,
        |    sum(CAST(r AS HUGEINT) * r * r) AS s3,
        |    sum(CAST(r AS HUGEINT) * r * r * r) AS s4
        |  FROM r GROUP BY 1),
        |mom AS (
        |  SELECT g, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM sums),
        |cm AS (
        |  SELECT g, n, e2 - m * m AS m2,
        |    e3 - 3.0 * m * e2 + 2.0 * m * m * m AS m3,
        |    e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m AS m4
        |  FROM mom),
        |st AS (
        |  SELECT g, n, m3 / (m2 * sqrt(m2)) AS g1,
        |    m4 / (m2 * m2) - 3.0 AS g2
        |  FROM cm),
        |jb AS (
        |  SELECT g, n, g1, g2,
        |    CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0) AS jb
        |  FROM st)
        |SELECT g AS event_type, n AS n_returns,
        |  floor(g1 * 10000.0 + 0.5) / 10000.0 AS skew,
        |  floor(g2 * 10000.0 + 0.5) / 10000.0 AS kurt_excess,
        |  floor(jb * 10000.0 + 0.5) / 10000.0 AS jb_stat,
        |  jb < 5.991 AS normal_at_5pct
        |FROM jb ORDER BY event_type""".stripMargin,

    // Bartlett-weighted HAC variance: HUGEINT lag cross-products over the
    // day-spine self-join, algebraic demeaning, sorted 6-term fold
    "agg_newey_west" ->
      """WITH days AS (
        |  SELECT epoch_ms(l_shipdate) // 86400000 AS d,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s1
        |  FROM days),
        |lags AS (
        |  SELECT l, count(*) AS cnt,
        |    sum(CAST(a.x AS HUGEINT) * b.x) AS sxy,
        |    CAST(sum(a.x) AS BIGINT) AS sl, CAST(sum(b.x) AS BIGINT) AS sr
        |  FROM days a, (SELECT UNNEST(range(0, 6)) AS l) ls, days b
        |  WHERE a.d + l = b.d GROUP BY 1),
        |g AS (
        |  SELECT l, n,
        |    (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) -
        |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        CAST(sl + sr AS DOUBLE) +
        |      CAST(cnt AS DOUBLE) *
        |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) /
        |      (CAST(n AS DOUBLE) * 10000.0) AS gamma
        |  FROM lags, tot),
        |folded AS (
        |  SELECT n, list_sort(list({'l': l,
        |    'term': CASE WHEN l = 0 THEN gamma
        |      ELSE 2.0 * (1.0 - CAST(l AS DOUBLE) / 6.0) * gamma END,
        |    'g0': CASE WHEN l = 0 THEN gamma ELSE 0.0 END})) AS arr
        |  FROM g GROUP BY n),
        |fin AS (
        |  SELECT n,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.g0)), (acc, x) -> acc + x) AS g0,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.term)), (acc, x) -> acc + x) AS lrv
        |  FROM folded)
        |SELECT n AS n_days,
        |  floor(g0 * 10000.0 + 0.5) / 10000.0 AS gamma0,
        |  floor(lrv * 10000.0 + 0.5) / 10000.0 AS lrv,
        |  floor(lrv / g0 * 10000.0 + 0.5) / 10000.0 AS lrv_ratio,
        |  floor(sqrt(abs(lrv) / CAST(n AS DOUBLE)) * 10000.0 + 0.5)
        |    / 10000.0 AS nw_se_mean
        |FROM fin""".stripMargin,

    "agg_column_profile" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |    epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000 AS date_d,
        |    o_orderpriority
        |  FROM orders),
        |w AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ok,
        |  count(DISTINCT o_orderkey) AS nd_ok,
        |  min(o_orderkey) AS mn_ok, max(o_orderkey) AS mx_ok,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ck,
        |  count(DISTINCT o_custkey) AS nd_ck,
        |  min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
        |  CAST(sum(CASE WHEN price_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_pr,
        |  count(DISTINCT price_c) AS nd_pr,
        |  min(price_c) AS mn_pr, max(price_c) AS mx_pr,
        |  CAST(sum(CASE WHEN date_d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_dt,
        |  count(DISTINCT date_d) AS nd_dt,
        |  min(date_d) AS mn_dt, max(date_d) AS mx_dt,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_op,
        |  count(DISTINCT o_orderpriority) AS nd_op
        |  FROM o)
        |SELECT u.col, w.n AS n_rows, u.n_null, u.n_distinct, u.min_v, u.max_v
        |FROM w, LATERAL (VALUES
        |  ('o_orderkey', nn_ok, nd_ok, mn_ok, mx_ok),
        |  ('o_custkey', nn_ck, nd_ck, mn_ck, mx_ck),
        |  ('o_totalprice_cents', nn_pr, nd_pr, mn_pr, mx_pr),
        |  ('o_orderdate_epochday', nn_dt, nd_dt, mn_dt, mx_dt),
        |  ('o_orderpriority', nn_op, nd_op, CAST(NULL AS BIGINT),
        |    CAST(NULL AS BIGINT))
        |) u(col, n_null, n_distinct, min_v, max_v)
        |ORDER BY col""".stripMargin,

    "agg_dq_checks" ->
      """WITH pk AS (
        |  SELECT 'pk_orders_unique' AS check_name,
        |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        |        HAVING count(*) > 1) d),
        |fkc AS (
        |  SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  WHERE c_custkey IS NULL),
        |fkl AS (
        |  SELECT 'fk_lineitem_orders', CAST(count(*) AS BIGINT)
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey IS NULL),
        |nn AS (
        |  SELECT 'nonneg_totalprice',
        |    CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders),
        |dt AS (
        |  SELECT 'orderdate_in_1992_1998',
        |    CAST(sum(CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) < 1992
        |      OR year(CAST(o_orderdate AS TIMESTAMP)) > 1998
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders),
        |allc AS (
        |  SELECT * FROM pk UNION ALL SELECT * FROM fkc
        |  UNION ALL SELECT * FROM fkl UNION ALL SELECT * FROM nn
        |  UNION ALL SELECT * FROM dt)
        |SELECT check_name AS "check", n_violations,
        |  n_violations = 0 AS pass
        |FROM allc ORDER BY check_name""".stripMargin,

    "win_atr" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS low,
        |    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS high,
        |    max({'ms': epoch_ms(ts), 'event_id': event_id,
        |      'c': CAST(round(value * 100) AS BIGINT)}).c AS close
        |  FROM events GROUP BY 1),
        |tr AS (
        |  SELECT d,
        |    CASE WHEN lag(close) OVER (ORDER BY d) IS NULL
        |      THEN high - low
        |      ELSE greatest(high - low,
        |        abs(high - lag(close) OVER (ORDER BY d)),
        |        abs(low - lag(close) OVER (ORDER BY d))) END AS tr
        |  FROM daily),
        |w AS (
        |  SELECT d, tr,
        |    count(*) OVER (ORDER BY d ROWS BETWEEN 13 PRECEDING
        |      AND CURRENT ROW) AS nf,
        |    CAST(sum(tr) OVER (ORDER BY d ROWS BETWEEN 13 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS trs
        |  FROM tr)
        |SELECT d, CAST(tr AS DOUBLE) / 100.0 AS true_range,
        |  floor(CAST(trs AS DOUBLE) / CAST(nf AS DOUBLE) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS atr_14
        |FROM w ORDER BY d""".stripMargin,

    "win_donchian" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT d, rev,
        |    CAST(max(rev) OVER (ORDER BY d ROWS BETWEEN 20 PRECEDING
        |      AND 1 PRECEDING) AS BIGINT) AS hi20,
        |    CAST(min(rev) OVER (ORDER BY d ROWS BETWEEN 20 PRECEDING
        |      AND 1 PRECEDING) AS BIGINT) AS lo20
        |  FROM daily)
        |SELECT d, CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  CAST(hi20 AS DOUBLE) / 100.0 AS channel_hi,
        |  CAST(lo20 AS DOUBLE) / 100.0 AS channel_lo,
        |  rev > hi20 AS breakout_up, rev < lo20 AS breakout_down
        |FROM w WHERE hi20 IS NOT NULL ORDER BY d""".stripMargin,

    "win_mom_growth" ->
      """WITH m AS (
        |  SELECT event_type, year(ts) * 100 + month(ts) AS ym,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, ym, rev,
        |    lag(rev) OVER (PARTITION BY event_type ORDER BY ym) AS prev
        |  FROM m)
        |SELECT event_type, ym, CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  CASE WHEN prev > 0 THEN
        |    floor(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 END AS mom_growth
        |FROM w ORDER BY event_type, ym""".stripMargin,

    "win_yoy_growth" ->
      """WITH y AS (
        |  SELECT l_returnflag, year(CAST(l_shipdate AS TIMESTAMP)) AS yr,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, yr, rev,
        |    lag(rev) OVER (PARTITION BY l_returnflag ORDER BY yr) AS prev
        |  FROM y)
        |SELECT l_returnflag, CAST(yr AS BIGINT) AS yr,
        |  CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  CASE WHEN prev > 0 THEN
        |    floor(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 END AS yoy_growth
        |FROM w ORDER BY l_returnflag, yr""".stripMargin,

    "agg_nrr" ->
      """WITH um AS (
        |  SELECT user_id, year(ts) * 100 + month(ts) AS ym,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ch AS (SELECT user_id, min(ym) AS cohort FROM um GROUP BY 1),
        |cells AS (
        |  SELECT cohort, ym, CAST(sum(c) AS BIGINT) AS rev
        |  FROM um JOIN ch ON ch.user_id = um.user_id
        |  GROUP BY 1, 2),
        |base AS (
        |  SELECT cohort AS bc, rev AS base_rev FROM cells
        |  WHERE ym = cohort)
        |SELECT cohort, ym,
        |  floor(CAST(rev AS DOUBLE) / 100.0 * 10000.0 + 0.5) / 10000.0
        |    AS revenue,
        |  CASE WHEN base_rev > 0 THEN
        |    floor(CAST(rev AS DOUBLE) / CAST(base_rev AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 END AS nrr
        |FROM cells JOIN base ON bc = cohort
        |ORDER BY cohort, ym""".stripMargin,

    "win_ulcer" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cp_ AS (
        |  SELECT event_type, c,
        |    CAST(max(c) OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS peak
        |  FROM daily),
        |dd AS (
        |  SELECT event_type,
        |    CASE WHEN peak > 0 THEN
        |      CAST(round((CAST(c - peak AS DOUBLE) /
        |        CAST(peak AS DOUBLE) * 100.0) *
        |        (CAST(c - peak AS DOUBLE) /
        |        CAST(peak AS DOUBLE) * 100.0) * 1.0e6) AS BIGINT)
        |      ELSE 0 END AS dd2q
        |  FROM cp_)
        |SELECT event_type, count(*) AS n_days,
        |  floor(sqrt(CAST(sum(dd2q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1.0e6) * 10000.0 + 0.5) / 10000.0 AS ulcer_index
        |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_odds_ratio" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM u)
        |SELECT a AS n_conv_t, b AS n_nonconv_t, c AS n_conv_c,
        |  d AS n_nonconv_c,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    floor((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)) /
        |      (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * 10000.0 + 0.5)
        |      / 10000.0 END AS odds_ratio,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    floor(exp(ln((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)) /
        |        (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) -
        |      1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |        + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)))
        |      * 10000.0 + 0.5) / 10000.0 END AS ci_lo,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    floor(exp(ln((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)) /
        |        (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) +
        |      1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |        + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)))
        |      * 10000.0 + 0.5) / 10000.0 END AS ci_hi
        |FROM cells""".stripMargin,

    "win_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT x.event_type,
        |    CAST(sum(CAST(sign(CAST(y.c - x.c AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS s_stat
        |  FROM daily x JOIN daily y
        |    ON x.event_type = y.event_type AND x.d < y.d
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT event_type, c, count(*) AS t FROM daily
        |    GROUP BY 1, 2)
        |  GROUP BY 1),
        |v AS (
        |  SELECT st.event_type, n_days, s_stat,
        |    n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
        |  FROM st JOIN ties ON ties.event_type = st.event_type)
        |SELECT event_type, n_days, s_stat, var18,
        |  CASE WHEN var18 > 0 THEN
        |    floor((CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |        WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |        ELSE 0.0 END /
        |      sqrt(CAST(var18 AS DOUBLE) / 18.0)) * 10000.0 + 0.5)
        |      / 10000.0 END AS z
        |FROM v ORDER BY event_type""".stripMargin,

    // daily revenue as exact cents; k = ceil(5% of days) integer-side;
    // two quantized divides at the end
    "agg_var_cvar" ->
      """WITH days AS (
        |  SELECT l_shipdate AS day,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |nn AS (SELECT count(*) AS n_days FROM days),
        |rk AS (SELECT day, cents,
        |    row_number() OVER (ORDER BY cents, day) AS rk FROM days),
        |kk AS (SELECT n_days,
        |    CAST((n_days * 5 + 99) // 100 AS BIGINT) AS k FROM nn),
        |tail AS (SELECT rk.rk, rk.cents, kk.n_days, kk.k
        |  FROM rk, kk WHERE rk.rk <= kk.k)
        |SELECT CAST(max(n_days) AS BIGINT) AS n_days,
        |  max(k) AS k_tail,
        |  CAST(max(CASE WHEN rk = k THEN cents END) AS DOUBLE) / 100.0
        |    AS var_rev,
        |  floor(CAST(sum(cents) AS DOUBLE)
        |    / (100.0 * CAST(max(k) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
        |    AS cvar_rev,
        |  CAST(min(cents) AS DOUBLE) / 100.0 AS min_rev
        |FROM tail""".stripMargin,

    "agg_returns" ->
      """SELECT p_brand, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  floor(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
        |    / 10000.0 AS return_rate
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 HAVING count(*) >= 50
        |ORDER BY return_rate DESC, p_brand LIMIT 10""".stripMargin,

    "agg_weibull_fit" ->
      """WITH spans AS (
        |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS fd,
        |    max(epoch_ms(ts) // 86400000) AS ld
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(ld) AS maxd FROM spans),
        |lt AS (
        |  SELECT ld - fd AS life, ld = maxd AS censored FROM spans, mx),
        |deaths AS (
        |  SELECT life AS t, count(*) AS d FROM lt
        |  WHERE NOT censored GROUP BY 1),
        |ar AS (
        |  SELECT t, d, count(*) AS n_risk
        |  FROM deaths JOIN lt ON lt.life >= deaths.t
        |  GROUP BY 1, 2),
        |fl AS (
        |  SELECT list_sort(list(
        |    {'t': t, 'f': 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)}))
        |    AS fs
        |  FROM ar),
        |km AS (
        |  SELECT fs[i].t AS t,
        |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |      list_transform(fs[1:CAST(i AS INTEGER)], e -> e.f)),
        |      (acc, f) -> acc * f) AS surv
        |  FROM fl, UNNEST(range(1, len(fs) + 1)) AS u(i)),
        |pts AS (
        |  SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * 1.0e6 + 0.5) AS BIGINT)
        |      AS x,
        |    CAST(floor(ln(-ln(surv)) * 1.0e6 + 0.5) AS BIGINT) AS y
        |  FROM km WHERE t >= 1 AND surv > 0.0 AND surv < 1.0),
        |sums AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pts)
        |SELECT n AS n_points,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    floor(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      CAST(n * sxx - sx * sx AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    END AS shape,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * sxy - sx * sy <> 0 THEN
        |    floor(exp(-((CAST(sy AS DOUBLE) -
        |        (CAST(n * sxy - sx * sy AS DOUBLE) /
        |          CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |        / CAST(n AS DOUBLE) / 1.0e6) /
        |      (CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE)))
        |      * 10000.0 + 0.5) / 10000.0 END AS scale_days
        |FROM sums""".stripMargin,

    "src_binaryfile" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS length,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "src_csv_gzip" ->
      ("""SELECT n_name, count(*) AS n_customers,
        |  """ + msum("c_acctbal") + """ AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""").stripMargin,

    "agg_top_paths" ->
      """WITH sess AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    string_agg(event_type, '>'
        |      ORDER BY epoch_ms(ts), event_id) AS path
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n_sessions FROM sess)
        |SELECT path, count(*) AS n,
        |  floor(CAST(count(*) AS DOUBLE) / CAST(n_sessions AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS share
        |FROM sess, tot GROUP BY path, n_sessions
        |ORDER BY n DESC, path LIMIT 10""".stripMargin,

    "agg_entry_exit" ->
      """WITH ranked AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d, event_type,
        |    row_number() OVER (PARTITION BY user_id,
        |      epoch_ms(ts) // 86400000
        |      ORDER BY epoch_ms(ts), event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id,
        |      epoch_ms(ts) // 86400000) AS cnt
        |  FROM events),
        |sess AS (
        |  SELECT user_id, d,
        |    min(CASE WHEN rn = 1 THEN event_type END) AS entry,
        |    min(CASE WHEN rn = cnt THEN event_type END) AS exit
        |  FROM ranked GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n_sessions FROM sess)
        |SELECT entry, "exit", count(*) AS n,
        |  floor(CAST(count(*) AS DOUBLE) / CAST(n_sessions AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS share
        |FROM sess, tot GROUP BY entry, "exit", n_sessions
        |ORDER BY entry, "exit"""".stripMargin,

    "agg_cross_corr" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
        |cal AS (
        |  SELECT unnest(generate_series(d0, d1)) AS d FROM span),
        |spine AS (
        |  SELECT cal.d, coalesce(daily.v, 0) AS v,
        |    coalesce(daily.p, 0) AS p
        |  FROM cal LEFT JOIN daily ON daily.d = cal.d),
        |lags AS (SELECT range AS lag FROM range(-7, 8)),
        |pw AS (
        |  SELECT lag, count(*) AS n_days,
        |    CAST(sum(x.v) AS BIGINT) AS sx, CAST(sum(y.p) AS BIGINT) AS sy,
        |    CAST(sum(x.v * y.p) AS BIGINT) AS sxy,
        |    CAST(sum(x.v * x.v) AS BIGINT) AS sxx,
        |    CAST(sum(y.p * y.p) AS BIGINT) AS syy
        |  FROM spine x, lags
        |  JOIN spine y ON y.d = x.d + lag
        |  GROUP BY 1)
        |SELECT lag, n_days,
        |  CASE WHEN CAST(n_days AS DECIMAL(38,0)) * CAST(sxx AS
        |      DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS
        |      DECIMAL(38,0)) > 0
        |    AND CAST(n_days AS DECIMAL(38,0)) * CAST(syy AS
        |      DECIMAL(38,0)) - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS
        |      DECIMAL(38,0)) > 0 THEN
        |    floor(CAST(CAST(n_days AS DECIMAL(38,0)) * CAST(sxy AS
        |        DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS
        |        DECIMAL(38,0)) AS DOUBLE) /
        |      sqrt(CAST(CAST(n_days AS DECIMAL(38,0)) * CAST(sxx AS
        |        DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS
        |        DECIMAL(38,0)) AS DOUBLE) *
        |        CAST(CAST(n_days AS DECIMAL(38,0)) * CAST(syy AS
        |        DECIMAL(38,0)) - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS
        |        DECIMAL(38,0)) AS DOUBLE))
        |      * 10000.0 + 0.5) / 10000.0 END AS r
        |FROM pw ORDER BY lag""".stripMargin,

    "agg_emd" ->
      """WITH vals AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM vals),
        |cum AS (
        |  SELECT c, sum(ca) OVER (ORDER BY c) AS cuma,
        |    sum(cb) OVER (ORDER BY c) AS cumb,
        |    lead(c) OVER (ORDER BY c) AS cnext
        |  FROM vals)
        |SELECT na AS n_view, nb AS n_purchase, count(*) AS n_values,
        |  floor(CAST(sum(abs(CAST(cuma AS DECIMAL(38,0)) * CAST(nb AS
        |      DECIMAL(38,0)) - CAST(cumb AS DECIMAL(38,0)) * CAST(na AS
        |      DECIMAL(38,0))) * CAST(coalesce(cnext - c, 0) AS
        |      DECIMAL(38,0))) AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS emd
        |FROM cum, tot GROUP BY na, nb""".stripMargin,

    "agg_price_index" ->
      """WITH yr AS (
        |  SELECT year(l_shipdate) AS y, l_partkey AS pk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |up AS (
        |  SELECT y, pk, q,
        |    floor(CAST(cents AS DOUBLE) / CAST(q AS DOUBLE) / 100.0
        |      * 10000.0 + 0.5) / 10000.0 AS p
        |  FROM yr),
        |j AS (
        |  SELECT a.pk,
        |    CAST(round(a.p * CAST(a.q AS DOUBLE) * 10000.0) AS BIGINT)
        |      AS p0q0,
        |    CAST(round(b.p * CAST(a.q AS DOUBLE) * 10000.0) AS BIGINT)
        |      AS p1q0,
        |    CAST(round(a.p * CAST(b.q AS DOUBLE) * 10000.0) AS BIGINT)
        |      AS p0q1,
        |    CAST(round(b.p * CAST(b.q AS DOUBLE) * 10000.0) AS BIGINT)
        |      AS p1q1
        |  FROM up a JOIN up b ON a.pk = b.pk AND a.y = 1996 AND b.y = 1997)
        |SELECT count(*) AS n_parts,
        |  floor(CAST(sum(p1q0) AS DOUBLE) / CAST(sum(p0q0) AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS laspeyres,
        |  floor(CAST(sum(p1q1) AS DOUBLE) / CAST(sum(p0q1) AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS paasche,
        |  floor(sqrt((CAST(sum(p1q0) AS DOUBLE) / CAST(sum(p0q0) AS DOUBLE))
        |    * (CAST(sum(p1q1) AS DOUBLE) / CAST(sum(p0q1) AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS fisher
        |FROM j""".stripMargin,

    "win_stochastic" ->
      ("""WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    """ + msum("value") + """ AS v
        |  FROM events GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type, d, v,
        |    min(v) OVER w14 AS mn, max(v) OVER w14 AS mx,
        |    count(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |kk AS (
        |  SELECT event_type, d, n_days,
        |    CASE WHEN mx > mn THEN (v - mn) / (mx - mn) * 100.0 END AS k
        |  FROM base),
        |dd AS (
        |  SELECT event_type, d, n_days, k,
        |    avg(k) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS dv
        |  FROM kk),
        |lst AS (SELECT event_type, max(d) AS d FROM dd GROUP BY 1)
        |SELECT dd.event_type, n_days, dd.d AS last_day,
        |  floor(k * 10000.0 + 0.5) / 10000.0 AS pct_k,
        |  floor(dv * 10000.0 + 0.5) / 10000.0 AS pct_d
        |FROM dd JOIN lst ON lst.event_type = dd.event_type
        |  AND lst.d = dd.d
        |ORDER BY dd.event_type""").stripMargin,

    "agg_shapley" ->
      """WITH pu AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS mask,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |bm AS (
        |  SELECT mask, count(*) AS nu, CAST(sum(conv) AS BIGINT) AS nc
        |  FROM pu GROUP BY 1),
        |co AS (SELECT range AS co FROM range(16)),
        |v AS (
        |  SELECT co.co,
        |    CASE WHEN coalesce(sum(bm.nu), 0) > 0
        |      THEN CAST(coalesce(sum(bm.nc), 0) AS DOUBLE)
        |        / CAST(sum(bm.nu) AS DOUBLE)
        |      ELSE 0.0 END AS v
        |  FROM co LEFT JOIN bm ON (bm.mask & co.co) = bm.mask
        |  GROUP BY 1),
        |ch(channel, b) AS (
        |  VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
        |terms AS (
        |  SELECT ch.channel, s0.co,
        |    (CASE bit_count(s0.co) WHEN 0 THEN 0.25 WHEN 1 THEN 1.0 / 12.0
        |      WHEN 2 THEN 1.0 / 12.0 ELSE 0.25 END) * (s1.v - s0.v) AS term
        |  FROM ch JOIN v s0 ON (s0.co & ch.b) = 0
        |  JOIN v s1 ON s1.co = s0.co + ch.b),
        |phi AS (
        |  SELECT channel,
        |    floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(list_sort(list({'co': co, 'term': term})),
        |          x -> x.term)), (acc, x) -> acc + x)
        |      * 10000.0 + 0.5) / 10000.0 AS phi
        |  FROM terms GROUP BY 1),
        |expo AS (
        |  SELECT ch.channel,
        |    CAST(coalesce(sum(bm.nu), 0) AS BIGINT) AS n_exposed
        |  FROM ch LEFT JOIN bm ON (bm.mask & ch.b) = ch.b
        |  GROUP BY 1)
        |SELECT phi.channel, expo.n_exposed, phi.phi
        |FROM phi JOIN expo ON expo.channel = phi.channel
        |ORDER BY phi.channel""".stripMargin,

    "agg_market_basket" ->
      """WITH bsk AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS br
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |nn AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders
        |  FROM bsk),
        |pr AS (
        |  SELECT x.br AS a, y.br AS b, count(*) AS n_ab
        |  FROM bsk x JOIN bsk y ON x.ok = y.ok AND x.br < y.br
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |sgl AS (SELECT br AS k, count(*) AS n1 FROM bsk GROUP BY 1)
        |SELECT pr.a, pr.b, pr.n_ab,
        |  floor(CAST(pr.n_ab AS DOUBLE) / nn.n_orders * 10000.0 + 0.5)
        |    / 10000.0 AS support,
        |  floor(CAST(pr.n_ab AS DOUBLE) / CAST(sa.n1 AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS confidence,
        |  floor(CAST(pr.n_ab AS DOUBLE) * nn.n_orders
        |    / (CAST(sa.n1 AS DOUBLE) * CAST(sb.n1 AS DOUBLE))
        |    * 10000.0 + 0.5) / 10000.0 AS lift
        |FROM pr JOIN sgl sa ON sa.k = pr.a JOIN sgl sb ON sb.k = pr.b, nn
        |ORDER BY lift DESC, a, b LIMIT 10""".stripMargin,

    "win_kalman" ->
      ("""WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    """ + msum("value") + """ AS v
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |rec(event_type, i, x, p, ssi) AS (
        |  SELECT event_type, i, v, CAST(400.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)
        |  FROM ranked WHERE i = 1
        |  UNION ALL
        |  SELECT r.event_type, d.i,
        |    r.x + ((r.p + 25.0) / (r.p + 25.0 + 400.0)) * (d.v - r.x),
        |    (1.0 - (r.p + 25.0) / (r.p + 25.0 + 400.0)) * (r.p + 25.0),
        |    r.ssi + (d.v - r.x) * (d.v - r.x)
        |  FROM rec r JOIN ranked d
        |    ON d.event_type = r.event_type AND d.i = r.i + 1)
        |SELECT rec.event_type, n AS n_days,
        |  floor(x * 10000.0 + 0.5) / 10000.0 AS x_hat,
        |  floor(p * 10000.0 + 0.5) / 10000.0 AS p_final,
        |  floor(sqrt(ssi / CAST(greatest(n - 1, 1) AS DOUBLE))
        |    * 10000.0 + 0.5) / 10000.0 AS innov_rmse
        |FROM rec JOIN ranked ON rec.event_type = ranked.event_type
        |  AND rec.i = ranked.i
        |WHERE rec.i = n
        |ORDER BY rec.event_type""").stripMargin,

    "agg_winsorize" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |bv AS (SELECT event_type, c, count(*) AS cnt FROM c GROUP BY 1, 2),
        |cw AS (
        |  SELECT event_type, c,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM bv),
        |cuts AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum * 20 >= n THEN c END) AS lo,
        |    min(CASE WHEN cum * 20 >= n * 19 THEN c END) AS hi
        |  FROM cw GROUP BY 1)
        |SELECT c.event_type, count(*) AS n,
        |  floor(CAST(sum(c.c) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS mean_raw,
        |  floor(CAST(sum(greatest(least(c.c, cuts.hi), cuts.lo)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 100.0 * 10000.0 + 0.5) / 10000.0
        |    AS mean_winsorized,
        |  CAST(max(cuts.lo) AS DOUBLE) / 100.0 AS lo_cut,
        |  CAST(max(cuts.hi) AS DOUBLE) / 100.0 AS hi_cut
        |FROM c JOIN cuts ON cuts.event_type = c.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_cuped" ->
      """WITH pu AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN epoch_ms(ts) < 1705363200000
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN epoch_ms(ts) < 1705363200000
        |      THEN 0 ELSE CAST(round(value * 100) AS BIGINT) END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pu),
        |th AS (
        |  SELECT n, sx, sy,
        |    CASE WHEN n * sxx - sx * sx > 0 THEN
        |      CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |      THEN CAST(n * sxy - sx * sy AS DOUBLE) *
        |        CAST(n * sxy - sx * sy AS DOUBLE) /
        |        (CAST(n * sxx - sx * sx AS DOUBLE) *
        |          CAST(n * syy - sy * sy AS DOUBLE)) END AS var_red
        |  FROM pooled)
        |SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |  floor(CAST(sum(y) AS DOUBLE) / count(*) / 100.0 * 10000.0
        |    + 0.5) / 10000.0 AS mean_post,
        |  floor((CAST(sum(y) AS DOUBLE) / count(*) -
        |    any_value(theta) * (CAST(sum(x) AS DOUBLE) / count(*) -
        |      CAST(any_value(sx) AS DOUBLE) / any_value(n))) / 100.0 *
        |    10000.0 + 0.5) / 10000.0 AS mean_adj,
        |  floor(any_value(theta) * 10000.0 + 0.5) / 10000.0 AS theta,
        |  floor(any_value(var_red) * 10000.0 + 0.5) / 10000.0
        |    AS var_reduction
        |FROM pu, th GROUP BY arm ORDER BY arm""".stripMargin,

    "win_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT x.event_type,
        |    CAST(y.c - x.c AS DOUBLE) / CAST(y.d - x.d AS DOUBLE)
        |      AS slope
        |  FROM daily x JOIN daily y
        |    ON x.event_type = y.event_type AND x.d < y.d),
        |byval AS (
        |  SELECT event_type, slope, CAST(count(*) AS BIGINT) AS cnt
        |  FROM slopes GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, slope, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY slope)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |  FROM byval),
        |med AS (
        |  SELECT event_type, max(m) AS n_pairs,
        |    min(CASE WHEN cum >= floor((m + 1) / 2.0) THEN slope END)
        |      AS lo,
        |    min(CASE WHEN cum >= floor(m / 2.0) + 1 THEN slope END)
        |      AS hi
        |  FROM cum GROUP BY 1),
        |nd AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT med.event_type, n_days, n_pairs,
        |  floor((lo + hi) / 2.0 * 10000.0 + 0.5) / 10000.0 AS sen_slope
        |FROM med JOIN nd ON med.event_type = nd.event_type
        |ORDER BY med.event_type""".stripMargin,

    "sort_hilbert" -> {
      // mirror of Relational.sortHilbert's unrolled xy2d bit walk — the
      // chained CTEs are generated by the same loop shape as the op
      val steps = (7 to 0 by -1).map { bit =>
        val sv = 1L << bit
        val src = if (bit == 7) "base" else s"h${bit + 1}"
        s"""h$bit AS (
           |  SELECT x, y,
           |    CASE WHEN (hy // $sv) % 2 = 0 THEN
           |      CASE WHEN (hx // $sv) % 2 = 1
           |        THEN ${sv - 1} - (hy % $sv) ELSE hy % $sv END
           |      ELSE hx % $sv END AS hx,
           |    CASE WHEN (hy // $sv) % 2 = 0 THEN
           |      CASE WHEN (hx // $sv) % 2 = 1
           |        THEN ${sv - 1} - (hx % $sv) ELSE hx % $sv END
           |      ELSE hy % $sv END AS hy,
           |    d + ${sv * sv} * (CASE
           |      WHEN (hx // $sv) % 2 = 1 AND (hy // $sv) % 2 = 0 THEN 3
           |      WHEN (hx // $sv) % 2 = 1 AND (hy // $sv) % 2 = 1 THEN 2
           |      WHEN (hx // $sv) % 2 = 0 AND (hy // $sv) % 2 = 1 THEN 1
           |      ELSE 0 END) AS d
           |  FROM $src)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
         |  FROM lineitem),
         |mm AS (SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin,
         |  max(y) AS ymax FROM r),
         |base AS (
         |  SELECT x, y,
         |    ((x - xmin) * 256) // (xmax - xmin + 1) AS hx,
         |    ((y - ymin) * 256) // (ymax - ymin + 1) AS hy,
         |    CAST(0 AS BIGINT) AS d
         |  FROM r, mm),
         |$steps
         |SELECT d // 1024 AS cluster, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS qty_min, max(x) AS qty_max,
         |  min(y) AS cents_min, max(y) AS cents_max
         |FROM h0 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "sort_zorder" ->
      """WITH r AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |mm AS (SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin,
        |  max(y) AS ymax FROM r),
        |s AS (
        |  SELECT x, y,
        |    ((x - xmin) * 256) // (xmax - xmin + 1) AS x8,
        |    ((y - ymin) * 256) // (ymax - ymin + 1) AS y8
        |  FROM r, mm),
        |z AS (
        |  SELECT x, y,
        |    (((x8 >> 0) & 1) << 0) + (((y8 >> 0) & 1) << 1) +
        |    (((x8 >> 1) & 1) << 2) + (((y8 >> 1) & 1) << 3) +
        |    (((x8 >> 2) & 1) << 4) + (((y8 >> 2) & 1) << 5) +
        |    (((x8 >> 3) & 1) << 6) + (((y8 >> 3) & 1) << 7) +
        |    (((x8 >> 4) & 1) << 8) + (((y8 >> 4) & 1) << 9) +
        |    (((x8 >> 5) & 1) << 10) + (((y8 >> 5) & 1) << 11) +
        |    (((x8 >> 6) & 1) << 12) + (((y8 >> 6) & 1) << 13) +
        |    (((x8 >> 7) & 1) << 14) + (((y8 >> 7) & 1) << 15) AS zv
        |  FROM s)
        |SELECT zv >> 10 AS cluster, CAST(count(*) AS BIGINT) AS n,
        |  min(x) AS qty_min, max(x) AS qty_max,
        |  min(y) AS cents_min, max(y) AS cents_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_sprt" ->
      """WITH t AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS success
        |  FROM events GROUP BY 1, 2),
        |q AS (
        |  SELECT d * 1000000000000 + user_id AS k, success,
        |    CASE WHEN success = 1 THEN 223143551
        |      ELSE -182321557 END AS llr_q
        |  FROM t),
        |c AS (
        |  SELECT k, success,
        |    CAST(sum(llr_q) OVER (ORDER BY k) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS rn
        |  FROM q),
        |x AS (
        |  SELECT min(CASE WHEN cum >= 2944438979 THEN rn END)
        |      AS first_h1,
        |    min(CASE WHEN cum <= -2944438979 THEN rn END) AS first_h0,
        |    CAST(count(*) AS BIGINT) AS n_trials,
        |    CAST(sum(success) AS BIGINT) AS n_success,
        |    max_by(cum, rn) AS llr_last
        |  FROM c)
        |SELECT n_trials, n_success,
        |  floor(CAST(llr_last AS DOUBLE) / 1.0e9 * 10000.0 + 0.5)
        |    / 10000.0 AS llr_final,
        |  CASE WHEN first_h1 IS NOT NULL AND (first_h0 IS NULL OR
        |      first_h1 <= first_h0) THEN 'accept_h1'
        |    WHEN first_h0 IS NOT NULL THEN 'accept_h0'
        |    ELSE 'continue' END AS decision,
        |  least(first_h1, first_h0) AS n_at_decision
        |FROM x""".stripMargin,

    "agg_sample_stratified" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST('0x' || substr(md5('sample-v1:' ||
        |      CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS coin
        |  FROM customer)
        |SELECT c_mktsegment, count(*) AS n_pop,
        |  CAST(sum(CASE WHEN coin < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sampled,
        |  floor(CAST(sum(CASE WHEN coin < 10 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS rate
        |FROM c GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "fn_levenshtein" ->
      """SELECT a.s_suppkey AS s_suppkey, a.s_name AS name_a,
        |  b.s_name AS name_b,
        |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b ON b.s_suppkey = a.s_suppkey + 1
        |ORDER BY s_suppkey""".stripMargin,

    "agg_ship_latency" ->
      """WITH lat AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |bv AS (SELECT o_orderpriority, days, count(*) AS c
        |  FROM lat GROUP BY 1, 2),
        |cm AS (
        |  SELECT o_orderpriority, days,
        |    CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY days)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        |  FROM bv),
        |md AS (SELECT o_orderpriority, min(days) AS median_days FROM cm
        |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |st AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    min(days) AS min_days, max(days) AS max_days,
        |    CAST(sum(days) AS BIGINT) AS sd
        |  FROM lat GROUP BY 1)
        |SELECT st.o_orderpriority, n, min_days, median_days, max_days,
        |  floor(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) * 10000.0 + 0.5)
        |    / 10000.0 AS mean_days
        |FROM st JOIN md ON st.o_orderpriority = md.o_orderpriority
        |ORDER BY st.o_orderpriority""".stripMargin,

    "agg_anomaly_days" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS c
        |  FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM daily),
        |med AS (
        |  SELECT c AS med FROM (
        |    SELECT c, row_number() OVER (ORDER BY c, d) AS rn FROM daily) x,
        |    n WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT d, c, med, abs(c - med) AS dev FROM daily, med),
        |mad AS (
        |  SELECT dev AS mad FROM (
        |    SELECT dev, row_number() OVER (ORDER BY dev, d) AS rn
        |    FROM dev) x, n
        |  WHERE rn = (n + 1) // 2)
        |SELECT d, CAST(c AS BIGINT) AS c, CAST(med AS BIGINT) AS med,
        |  CAST(mad AS BIGINT) AS mad, CAST(dev AS BIGINT) AS dev
        |FROM dev, mad WHERE dev * 2 > mad * 3 ORDER BY d""".stripMargin,

    "set_symmetric_diff" ->
      """WITH a AS (SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'AUTOMOBILE'),
        |b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT c_custkey, 'a_only' AS side FROM (
        |  SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT c_custkey, 'b_only' FROM (
        |  SELECT c_custkey FROM b EXCEPT SELECT c_custkey FROM a)
        |ORDER BY c_custkey""".stripMargin,

    "topk_per_group" ->
      """WITH j AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, o_orderkey,
        |  o_totalprice
        |FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM j) x
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,

    "agg_calendar_heatmap" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms FROM events)
        |SELECT ((ms // 86400000) + 4) % 7 AS dow,
        |  (ms % 86400000) // 3600000 AS hour, count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,

    "agg_dau_mau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS d
        |  FROM events),
        |ub AS (SELECT user_id, d, d // 30 AS bucket FROM ud),
        |daily AS (
        |  SELECT bucket, count(*) AS n_days,
        |    CAST(sum(dau) AS BIGINT) AS dau_sum
        |  FROM (SELECT bucket, d, count(*) AS dau FROM ub GROUP BY 1, 2) x
        |  GROUP BY 1),
        |monthly AS (
        |  SELECT bucket, count(DISTINCT user_id) AS mau FROM ub GROUP BY 1)
        |SELECT daily.bucket, n_days, dau_sum, mau,
        |  floor(CAST(dau_sum AS DOUBLE) / CAST(n_days AS DOUBLE)
        |    / CAST(mau AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS stickiness
        |FROM daily JOIN monthly ON daily.bucket = monthly.bucket
        |ORDER BY daily.bucket""".stripMargin,

    "agg_changepoint" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS c
        |  FROM events GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS sc
        |  FROM daily),
        |cu AS (
        |  SELECT d,
        |    CAST(sum(c * n - sc) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS s, n
        |  FROM daily, st),
        |pick AS (
        |  SELECT d, abs(s) AS a, n,
        |    row_number() OVER (ORDER BY abs(s) DESC, d) AS rn
        |  FROM cu)
        |SELECT CAST(n AS BIGINT) AS n_days, d AS changepoint_day,
        |  a AS cusum_peak_nscaled
        |FROM pick WHERE rn = 1""".stripMargin,

    "agg_session_count_dist" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
        |      WHEN ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS gap
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |pu AS (
        |  SELECT user_id, CAST(sum(gap) AS BIGINT) AS n_sessions
        |  FROM g GROUP BY 1)
        |SELECT n_sessions, count(*) AS n_users
        |FROM pu GROUP BY 1 ORDER BY n_sessions""".stripMargin,

    "win_concurrency_peak" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
        |      WHEN ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS gap
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sid AS (
        |  SELECT user_id, ms,
        |    CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms
        |  FROM sid GROUP BY 1, 2),
        |deltas AS (
        |  SELECT user_id, sid, start_ms AS ms, CAST(1 AS BIGINT) AS delta
        |  FROM sess
        |  UNION ALL
        |  SELECT user_id, sid, end_ms, CAST(-1 AS BIGINT) FROM sess),
        |run AS (
        |  SELECT ms,
        |    CAST(sum(delta) OVER (ORDER BY ms, delta DESC, user_id, sid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS conc
        |  FROM deltas),
        |pick AS (
        |  SELECT conc, ms,
        |    row_number() OVER (ORDER BY conc DESC, ms) AS rn,
        |    count(*) OVER () AS n_boundaries
        |  FROM run)
        |SELECT CAST(n_boundaries AS BIGINT) AS n_boundaries,
        |  conc AS peak_concurrency, ms AS peak_ms
        |FROM pick WHERE rn = 1""".stripMargin,

    "win_ecdf" ->
      """WITH pts AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM pts),
        |c AS (
        |  SELECT cents, CAST(n AS BIGINT) AS n,
        |    CAST(sum(n) OVER (ORDER BY cents) AS BIGINT) AS cum
        |  FROM pts)
        |SELECT CAST(cents AS DOUBLE) / 100.0 AS price, n, cum,
        |  floor(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) * 10000.0 + 0.5)
        |    / 10000.0 AS ecdf
        |FROM c, tot ORDER BY cum""".stripMargin,

    "agg_winsorized" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |bv AS (SELECT l_returnflag, v, count(*) AS c FROM r GROUP BY 1, 2),
        |cm AS (
        |  SELECT l_returnflag, v,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY v)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM bv),
        |lo AS (SELECT l_returnflag, min(v) AS lo FROM cm
        |  WHERE cum >= (5 * n + 99) // 100 GROUP BY 1),
        |hi AS (SELECT l_returnflag, min(v) AS hi FROM cm
        |  WHERE cum >= (95 * n + 99) // 100 GROUP BY 1),
        |w AS (
        |  SELECT r.l_returnflag, least(greatest(r.v, lo.lo), hi.hi) AS w
        |  FROM r JOIN lo ON r.l_returnflag = lo.l_returnflag
        |  JOIN hi ON r.l_returnflag = hi.l_returnflag),
        |m AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(w) AS BIGINT) AS sw FROM w GROUP BY 1)
        |SELECT m.l_returnflag, n,
        |  CAST(lo.lo AS DOUBLE) / 100.0 AS p05,
        |  CAST(hi.hi AS DOUBLE) / 100.0 AS p95,
        |  floor(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) / 100.0
        |    AS winsorized_mean
        |FROM m JOIN lo ON m.l_returnflag = lo.l_returnflag
        |JOIN hi ON m.l_returnflag = hi.l_returnflag
        |ORDER BY m.l_returnflag""".stripMargin,

    "agg_theil" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c_nationkey, x FROM spend
        |  JOIN customer ON o_custkey = c_custkey),
        |nat AS (SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx FROM j GROUP BY 1),
        |t AS (
        |  SELECT j.c_nationkey, n,
        |    CAST(floor(CAST(x * n AS DOUBLE) / CAST(sx AS DOUBLE) *
        |      ln(CAST(x * n AS DOUBLE) / CAST(sx AS DOUBLE)) * 1.0e9 + 0.5)
        |      AS BIGINT) AS tt
        |  FROM j JOIN nat ON j.c_nationkey = nat.c_nationkey)
        |SELECT c_nationkey, max(n) AS n_cust,
        |  CAST(CAST(sum(tt) AS BIGINT) AS DOUBLE) / CAST(max(n) AS DOUBLE)
        |    / 1.0e9 AS theil
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_subsample_ci" ->
      """WITH reps AS (
        |  SELECT r, count(*) AS m, CAST(sum(v) AS BIGINT) AS sv FROM (
        |    SELECT o_orderkey,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS v, u.r
        |    FROM orders, UNNEST(range(0, 32)) AS u(r)) x
        |  WHERE CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '_' ||
        |    CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) % 2 = 0
        |  GROUP BY 1),
        |mns AS (SELECT r, CAST(sv AS DOUBLE) / CAST(m AS DOUBLE) AS mean
        |  FROM reps),
        |rk AS (SELECT mean,
        |  row_number() OVER (ORDER BY mean, r) AS rn FROM mns),
        |lo AS (SELECT mean AS lo FROM rk WHERE rn = 2),
        |hi AS (SELECT mean AS hi FROM rk WHERE rn = 31),
        |b AS (SELECT count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sv
        |  FROM orders)
        |SELECT n_orders,
        |  floor(CAST(sv AS DOUBLE) / CAST(n_orders AS DOUBLE) + 0.5)
        |    / 100.0 AS mean_price,
        |  floor(lo + 0.5) / 100.0 AS ci_lo,
        |  floor(hi + 0.5) / 100.0 AS ci_hi
        |FROM b, lo, hi""".stripMargin,

    "join_null_safe" ->
      """WITH c AS (
        |  SELECT nullif(c_nationkey, 3) AS k FROM customer),
        |s AS (
        |  SELECT nullif(s_nationkey, 3) AS k FROM supplier)
        |SELECT c.k AS k, count(*) AS n_pairs
        |FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
        |GROUP BY c.k ORDER BY k NULLS FIRST""".stripMargin,

    "fn_try_arith" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) /
        |      CAST(l_quantity - 25 AS BIGINT) AS ratio
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_div_zero,
        |  CAST(sum(CAST(floor(ratio * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS ratio_q_sum
        |FROM r GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "sql_recursive" -> Recursive,

    "src_json_nested" ->
      """SELECT count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(l_partkey * CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS checksum
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey""".stripMargin,

    "agg_srm_check" ->
      """WITH obs AS (
        |  SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'd'
        |      THEN 'train'
        |      WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'f' THEN 'val'
        |      ELSE 'test' END AS split,
        |    count(*) AS o
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        |w(split, wt) AS (VALUES ('train', 13), ('val', 2), ('test', 1)),
        |q AS (
        |  SELECT obs.split AS split, o, n,
        |    CAST(n AS DOUBLE) * CAST(wt AS DOUBLE) / 16.0 AS e
        |  FROM obs JOIN w ON obs.split = w.split, t),
        |f AS (
        |  SELECT split, o, n,
        |    CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |      / e * 1.0e9 + 0.5) AS BIGINT) AS qq
        |  FROM q)
        |SELECT max(n) AS n_docs,
        |  max(CASE WHEN split = 'train' THEN o END) AS n_train,
        |  max(CASE WHEN split = 'val' THEN o END) AS n_val,
        |  max(CASE WHEN split = 'test' THEN o END) AS n_test,
        |  CAST(CAST(sum(qq) AS BIGINT) AS DOUBLE) / 1.0e9 AS chi2
        |FROM f""".stripMargin,

    "agg_repeat_purchase" ->
      """WITH pd AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS d
        |  FROM events WHERE event_type = 'purchase'),
        |rk AS (
        |  SELECT user_id, d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        |  FROM pd),
        |fs AS (
        |  SELECT user_id, count(*) AS n, min(d) AS d1, max(d) AS d2
        |  FROM rk WHERE rn <= 2 GROUP BY 1),
        |b AS (
        |  SELECT count(*) AS n_purchasers,
        |    CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_repeat
        |  FROM fs),
        |g AS (
        |  SELECT d2 - d1 AS gap, count(*) AS c FROM fs WHERE n >= 2
        |  GROUP BY 1),
        |cumg AS (
        |  SELECT gap, sum(c) OVER (ORDER BY gap) AS cum FROM g),
        |med AS (
        |  SELECT min(gap) AS median_days_to_second
        |  FROM cumg, b WHERE cum >= (b.n_repeat + 1) // 2)
        |SELECT n_purchasers, n_repeat,
        |  CASE WHEN n_purchasers > 0 THEN
        |    floor(CAST(n_repeat AS DOUBLE) / CAST(n_purchasers AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0
        |  END AS repeat_rate,
        |  median_days_to_second
        |FROM b, med""".stripMargin,

    "win_cadence" ->
      """WITH g AS (
        |  SELECT user_id,
        |    ms - lag(ms) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS gap
        |  FROM (SELECT user_id, event_id, epoch_ms(ts) AS ms
        |        FROM events) e),
        |m AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |    CAST(sum(gap) AS BIGINT) AS s1,
        |    CAST(sum(gap // 1000) AS BIGINT) AS s1s,
        |    CAST(sum((gap // 1000) * (gap // 1000)) AS BIGINT) AS s2s
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_ms,
        |  CASE WHEN s1s > 0 THEN
        |    floor(sqrt(CAST(n_gaps * s2s - s1s * s1s AS DOUBLE)) /
        |      CAST(s1s AS DOUBLE) * 10000.0 + 0.5) / 10000.0 END AS cv
        |FROM m ORDER BY user_id""".stripMargin,

    "fn_uuid5" ->
      """WITH h AS (
        |  SELECT o_orderkey,
        |    md5('graft:order:' || o_orderkey::VARCHAR) AS h
        |  FROM orders)
        |SELECT o_orderkey,
        |  substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-5' ||
        |  substr(h, 14, 3) || '-a' || substr(h, 18, 3) || '-' ||
        |  substr(h, 21, 12) AS uuid
        |FROM h ORDER BY o_orderkey""".stripMargin,

    "agg_funnel_time" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
        |s1 AS (
        |  SELECT user_id, a_ts, ms, side, cand_ts FROM (
        |    SELECT DISTINCT user_id, ms AS a_ts, ms, 0 AS side,
        |      CAST(NULL AS BIGINT) AS cand_ts
        |    FROM e WHERE event_type = 'view'
        |    UNION ALL
        |    SELECT DISTINCT user_id, NULL, ms, 1, ms
        |    FROM e WHERE event_type = 'click') u),
        |g1 AS (
        |  SELECT 'view_to_click' AS stage, nxt - a_ts AS gap_ms FROM (
        |    SELECT a_ts, side,
        |      first_value(cand_ts IGNORE NULLS) OVER (PARTITION BY user_id
        |        ORDER BY ms, side
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        |    FROM s1) x
        |  WHERE side = 0 AND nxt IS NOT NULL AND nxt - a_ts <= 86400000),
        |s2 AS (
        |  SELECT user_id, a_ts, ms, side, cand_ts FROM (
        |    SELECT DISTINCT user_id, ms AS a_ts, ms, 0 AS side,
        |      CAST(NULL AS BIGINT) AS cand_ts
        |    FROM e WHERE event_type = 'click'
        |    UNION ALL
        |    SELECT DISTINCT user_id, NULL, ms, 1, ms
        |    FROM e WHERE event_type = 'purchase') u),
        |g2 AS (
        |  SELECT 'click_to_purchase' AS stage, nxt - a_ts AS gap_ms FROM (
        |    SELECT a_ts, side,
        |      first_value(cand_ts IGNORE NULLS) OVER (PARTITION BY user_id
        |        ORDER BY ms, side
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        |    FROM s2) x
        |  WHERE side = 0 AND nxt IS NOT NULL AND nxt - a_ts <= 86400000),
        |a AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |r AS (
        |  SELECT stage, gap_ms,
        |    row_number() OVER (PARTITION BY stage ORDER BY gap_ms) AS rn,
        |    count(*) OVER (PARTITION BY stage) AS n
        |  FROM a)
        |SELECT stage, n AS n_steps, gap_ms AS median_gap_ms
        |FROM r WHERE rn = (n + 1) // 2
        |ORDER BY stage""".stripMargin,

    "agg_did" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d, event_type,
        |    CAST(round(value * 10000) AS BIGINT) AS v
        |  FROM events),
        |tr AS (SELECT DISTINCT user_id, 1 AS treated FROM ev
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT min(d) + (max(d) - min(d) + 1) // 2 AS mid FROM ev),
        |cells AS (
        |  SELECT coalesce(treated, 0) AS t,
        |    CASE WHEN d < mid THEN 0 ELSE 1 END AS post,
        |    count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
        |  FROM ev LEFT JOIN tr ON ev.user_id = tr.user_id, b
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT t, post, n,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS m
        |  FROM cells),
        |w AS (
        |  SELECT
        |    max(CASE WHEN t = 1 AND post = 1 THEN m END) AS t_post,
        |    max(CASE WHEN t = 1 AND post = 0 THEN m END) AS t_pre,
        |    max(CASE WHEN t = 0 AND post = 1 THEN m END) AS c_post,
        |    max(CASE WHEN t = 0 AND post = 0 THEN m END) AS c_pre,
        |    CAST(sum(n) AS BIGINT) AS n_events
        |  FROM m)
        |SELECT n_events, t_pre, t_post, c_pre, c_post,
        |  (t_post - t_pre) - (c_post - c_pre) AS did
        |FROM w""".stripMargin,

    "win_rolling_slope" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vs
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT user_id, d, vs,
        |    CAST(count(*) OVER w AS BIGINT) AS nf,
        |    CAST(sum(d) OVER w AS BIGINT) AS sx,
        |    CAST(sum(vs) OVER w AS BIGINT) AS sy,
        |    CAST(sum(d * d) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(d * vs) OVER w AS BIGINT) AS sxy
        |  FROM daily
        |  WINDOW w AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, nf AS n_frame,
        |  CAST(vs AS DOUBLE) / 10000.0 AS v,
        |  CASE WHEN nf >= 3 THEN
        |    (CAST(nf * sxy - sx * sy AS DOUBLE) /
        |      CAST(nf * sxx - sx * sx AS DOUBLE)) / 10000.0 END AS slope
        |FROM f ORDER BY user_id, d""".stripMargin,

    "agg_activity_bitmask" ->
      """WITH b AS (
        |  SELECT user_id,
        |    1::BIGINT << CAST((epoch_ms(ts) // 86400000 + 3) % 7
        |      AS INTEGER) AS bit
        |  FROM events)
        |SELECT user_id, CAST(bit_or(bit) AS BIGINT) AS mask,
        |  CAST(bit_count(CAST(bit_or(bit) AS BIGINT)) AS BIGINT)
        |    AS n_weekdays
        |FROM b GROUP BY 1 ORDER BY user_id""".stripMargin,

    "agg_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(round(value * 10000) AS BIGINT) AS v
        |  FROM events),
        |c AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY 1),
        |cells AS (
        |  SELECT d0 AS cohort_day, d - d0 AS day_offset,
        |    CAST(sum(v) AS BIGINT) AS sv
        |  FROM ev JOIN c ON ev.user_id = c.user_id
        |  GROUP BY 1, 2)
        |SELECT cohort_day, day_offset,
        |  CAST(sv AS DOUBLE) / 10000.0 AS revenue,
        |  CAST(CAST(sum(sv) OVER (PARTITION BY cohort_day
        |    ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / 10000.0 AS cum_ltv
        |FROM cells ORDER BY cohort_day, day_offset""".stripMargin,

    "agg_survival_km" ->
      """WITH spans AS (
        |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS fd,
        |    max(epoch_ms(ts) // 86400000) AS ld
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(ld) AS maxd FROM spans),
        |lt AS (
        |  SELECT ld - fd AS life, ld = maxd AS censored FROM spans, mx),
        |deaths AS (
        |  SELECT life AS t, count(*) AS d FROM lt
        |  WHERE NOT censored GROUP BY 1),
        |ar AS (
        |  SELECT t, d, count(*) AS n_risk
        |  FROM deaths JOIN lt ON lt.life >= deaths.t
        |  GROUP BY 1, 2),
        |fl AS (
        |  SELECT list_sort(list(
        |    {'t': t, 'n_risk': n_risk, 'd': d,
        |     'f': 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)}))
        |    AS fs
        |  FROM ar),
        |ex AS (
        |  SELECT fs[i] AS x, i, fs
        |  FROM fl, UNNEST(range(1, len(fs) + 1)) AS u(i))
        |SELECT x.t AS t, x.n_risk AS n_risk, x.d AS d,
        |  list_reduce(list_transform(fs[1:CAST(i AS INTEGER)], e -> e.f),
        |    (acc, f) -> acc * f) AS surv
        |FROM ex ORDER BY t""".stripMargin,

    "src_csv_quarantine" ->
      ("""SELECT count(*) AS n_clean, CAST(3 AS BIGINT) AS n_quarantined,
        |  """ + msum("c_acctbal") + """ AS clean_bal
        |FROM customer""").stripMargin,

    "agg_dp_counts" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |h AS (
        |  SELECT event_type, n,
        |    CAST('0x' || substr(md5(event_type || ':dp1'), 1, 8) AS BIGINT)
        |      AS h
        |  FROM c),
        |u AS (
        |  SELECT event_type, n,
        |    (CAST(h AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS uc
        |  FROM h),
        |m AS (
        |  SELECT event_type, n, uc,
        |    CAST(floor(-ln(1.0 - 2.0 * abs(uc)) * 2.0 * 1.0e9 + 0.5)
        |      AS BIGINT) AS mag
        |  FROM u)
        |SELECT event_type, n,
        |  CAST(n AS DOUBLE) +
        |    CAST(CASE WHEN uc < 0 THEN -mag ELSE mag END AS DOUBLE) / 1.0e9
        |    AS noisy_n
        |FROM m ORDER BY event_type""".stripMargin,

    "win_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vs
        |  FROM events GROUP BY 1),
        |tr AS (
        |  SELECT d, vs, CAST(count(*) OVER w AS BIGINT) AS nf,
        |    CAST(sum(vs) OVER w AS BIGINT) AS ts7
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT d, (d + 3) % 7 AS weekday, vs,
        |    CASE WHEN nf = 7
        |      THEN CAST(ts7 AS DOUBLE) / 7.0 / 10000.0 END AS trend
        |  FROM tr),
        |t3 AS (
        |  SELECT d, weekday, vs, trend,
        |    CASE WHEN trend IS NOT NULL THEN
        |      CAST(floor((CAST(vs AS DOUBLE) / 10000.0 - trend) * 1.0e9
        |        + 0.5) AS BIGINT) END AS det
        |  FROM t2),
        |seas AS (
        |  SELECT weekday, CAST(sum(det) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) / 1.0e9 AS seasonal
        |  FROM t3 WHERE det IS NOT NULL GROUP BY 1)
        |SELECT d, t3.weekday AS weekday,
        |  CAST(vs AS DOUBLE) / 10000.0 AS v, trend,
        |  CASE WHEN det IS NOT NULL THEN seasonal END AS seasonal,
        |  CASE WHEN det IS NOT NULL
        |    THEN CAST(det AS DOUBLE) / 1.0e9 - seasonal END AS residual
        |FROM t3 LEFT JOIN seas ON t3.weekday = seas.weekday
        |ORDER BY d""".stripMargin,

    "agg_mix_shift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    CAST(round(value * 10000) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT min(d) + (max(d) - min(d) + 1) // 2 AS mid FROM ev),
        |per AS (
        |  SELECT event_type, CASE WHEN d < mid THEN 1 ELSE 2 END AS p,
        |    count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
        |  FROM ev, b GROUP BY 1, 2),
        |tot AS (SELECT p, CAST(sum(n) AS BIGINT) AS nt FROM per GROUP BY 1),
        |wa AS (
        |  SELECT event_type, per.p AS p, n,
        |    CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS w,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS a
        |  FROM per JOIN tot ON per.p = tot.p),
        |wide AS (
        |  SELECT event_type,
        |    max(CASE WHEN p = 1 THEN n END) AS n1,
        |    max(CASE WHEN p = 2 THEN n END) AS n2,
        |    max(CASE WHEN p = 1 THEN w END) AS w1,
        |    max(CASE WHEN p = 2 THEN w END) AS w2,
        |    max(CASE WHEN p = 1 THEN a END) AS a1,
        |    max(CASE WHEN p = 2 THEN a END) AS a2
        |  FROM wa GROUP BY 1)
        |SELECT event_type, n1, n2,
        |  CAST(floor(w1 * 1.0e9 + 0.5) AS BIGINT) / 1.0e9 AS w1,
        |  CAST(floor(w2 * 1.0e9 + 0.5) AS BIGINT) / 1.0e9 AS w2,
        |  CAST(floor(a1 * 1.0e9 + 0.5) AS BIGINT) / 1.0e9 AS a1,
        |  CAST(floor(a2 * 1.0e9 + 0.5) AS BIGINT) / 1.0e9 AS a2,
        |  CAST(floor(w2 * (a2 - a1) * 1.0e9 + 0.5) AS BIGINT) / 1.0e9
        |    AS within_effect,
        |  CAST(floor((w2 - w1) * a1 * 1.0e9 + 0.5) AS BIGINT) / 1.0e9
        |    AS mix_effect
        |FROM wide ORDER BY event_type""".stripMargin,

    "win_peaks" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vs
        |  FROM events GROUP BY 1, 2),
        |n AS (
        |  SELECT user_id, d, vs,
        |    lag(vs) OVER w AS prev, lead(vs) OVER w AS next
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d))
        |SELECT user_id, d, CAST(vs AS DOUBLE) / 10000.0 AS v,
        |  CAST(vs - greatest(prev, next) AS DOUBLE) / 10000.0 AS prominence
        |FROM n
        |WHERE prev IS NOT NULL AND next IS NOT NULL
        |  AND vs > prev AND vs > next
        |ORDER BY user_id, d""".stripMargin,

    "agg_window_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
        |v AS (SELECT DISTINCT user_id, ms AS a_ts FROM e
        |  WHERE event_type = 'view'),
        |c AS (SELECT DISTINCT user_id, ms AS c_ts FROM e
        |  WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id, ms AS c_ts FROM e
        |  WHERE event_type = 'purchase'),
        |vc0 AS (
        |  SELECT user_id, a_ts, a_ts AS ms, 0 AS side,
        |    CAST(NULL AS BIGINT) AS cand_ts FROM v
        |  UNION ALL
        |  SELECT user_id, NULL, c_ts, 1, c_ts FROM c),
        |vc AS (
        |  SELECT user_id, a_ts AS v_ts,
        |    first_value(cand_ts IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ms, side
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS c_ts
        |  FROM vc0 QUALIFY side = 0),
        |cp0 AS (
        |  SELECT user_id, c_ts AS a_ts, c_ts AS ms, 0 AS side,
        |    CAST(NULL AS BIGINT) AS cand_ts FROM c
        |  UNION ALL
        |  SELECT user_id, NULL, c_ts, 1, c_ts FROM p),
        |cpn AS (
        |  SELECT user_id, a_ts AS c_ts,
        |    first_value(cand_ts IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ms, side
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_ts
        |  FROM cp0 QUALIFY side = 0),
        |depth AS (
        |  SELECT vc.user_id AS user_id,
        |    max(1 + (CASE WHEN vc.c_ts IS NOT NULL
        |        AND vc.c_ts - v_ts <= 86400000 THEN 1 ELSE 0 END)
        |      + (CASE WHEN vc.c_ts IS NOT NULL
        |        AND vc.c_ts - v_ts <= 86400000 AND p_ts IS NOT NULL
        |        AND p_ts - vc.c_ts <= 86400000 THEN 1 ELSE 0 END))
        |      AS depth
        |  FROM vc LEFT JOIN cpn
        |    ON vc.user_id = cpn.user_id AND vc.c_ts = cpn.c_ts
        |  GROUP BY 1)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_users
        |FROM depth GROUP BY 1 ORDER BY depth""".stripMargin,

    "agg_decay_sum" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vs
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(d) AS maxd FROM daily),
        |ag AS (
        |  SELECT user_id, d, vs, maxd - d AS age FROM daily, mx
        |  WHERE maxd - d <= 30)
        |SELECT user_id, count(*) AS n_days, max(d) AS last_day,
        |  CAST(CAST(sum(vs * (CAST(1 AS BIGINT) << CAST(30 - age AS INTEGER)))
        |    AS BIGINT) AS DOUBLE) / 1073741824.0 / 10000.0 AS decayed
        |FROM ag GROUP BY 1 ORDER BY user_id""".stripMargin,

    "agg_growth_accounting" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS d
        |  FROM events),
        |f AS (
        |  SELECT user_id, d,
        |    lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev,
        |    lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next
        |  FROM active),
        |sr AS (
        |  SELECT d,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN prev = d - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < d - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM f GROUP BY 1),
        |cr AS (
        |  SELECT d + 1 AS d, count(*) AS n_churned
        |  FROM f WHERE next IS NULL OR next > d + 1 GROUP BY 1)
        |SELECT coalesce(sr.d, cr.d) AS d,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM sr FULL OUTER JOIN cr ON sr.d = cr.d
        |ORDER BY d""".stripMargin,

    "win_interval_union" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
        |      WHEN ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS gap
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sid AS (
        |  SELECT user_id, ms,
        |    CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms
        |  FROM sid GROUP BY 1, 2),
        |fl AS (
        |  SELECT user_id, sid, start_ms, end_ms,
        |    CASE WHEN max(end_ms) OVER (ORDER BY start_ms, user_id, sid
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR start_ms > max(end_ms) OVER (ORDER BY start_ms, user_id, sid
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS brk
        |  FROM sess),
        |isl AS (
        |  SELECT start_ms, end_ms,
        |    CAST(sum(brk) OVER (ORDER BY start_ms, user_id, sid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM fl)
        |SELECT island, min(start_ms) AS start_ms, max(end_ms) AS end_ms,
        |  max(end_ms) - min(start_ms) AS len_ms, count(*) AS n_sessions
        |FROM isl GROUP BY 1 ORDER BY island""".stripMargin,

    "win_set_jaccard" ->
      """WITH types AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS d,
        |    event_type
        |  FROM events),
        |sizes AS (
        |  SELECT user_id, d, count(*) AS na FROM types GROUP BY 1, 2),
        |inter AS (
        |  SELECT a.user_id AS user_id, a.d AS d, count(*) AS ni
        |  FROM types a JOIN types b
        |    ON a.user_id = b.user_id AND a.d = b.d + 1
        |    AND a.event_type = b.event_type
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT s.user_id AS user_id, s.d AS d, s.na AS na, p.na AS nb,
        |    coalesce(ni, 0) AS ni
        |  FROM sizes s
        |  LEFT JOIN sizes p ON s.user_id = p.user_id AND s.d = p.d + 1
        |  LEFT JOIN inter i ON s.user_id = i.user_id AND s.d = i.d)
        |SELECT user_id, d, na, nb,
        |  CASE WHEN nb IS NOT NULL THEN
        |    floor(CAST(ni AS DOUBLE) / CAST(na + nb - ni AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 END AS jaccard
        |FROM j ORDER BY user_id, d""".stripMargin,

    "win_sax" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vs
        |  FROM events GROUP BY 1, 2),
        |mom AS (
        |  SELECT user_id, count(*) AS n, CAST(sum(vs) AS BIGINT) AS s1,
        |    CAST(sum(vs * vs) AS BIGINT) AS s2
        |  FROM daily GROUP BY 1),
        |j AS (
        |  SELECT daily.user_id AS user_id, d, vs, n, s1, s2,
        |    n * s2 - s1 * s1 AS varn
        |  FROM daily JOIN mom ON daily.user_id = mom.user_id),
        |z AS (
        |  SELECT user_id, d, n, varn,
        |    (CAST(vs AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      sqrt(CAST(varn AS DOUBLE)) * CAST(n AS DOUBLE) AS z
        |  FROM j),
        |sym AS (
        |  SELECT user_id, d, n,
        |    CASE WHEN varn = 0 THEN 'c'
        |      WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
        |      WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS sym
        |  FROM z)
        |SELECT user_id, max(n) AS n_days,
        |  string_agg(sym, '' ORDER BY d) AS sax
        |FROM sym GROUP BY 1 ORDER BY user_id""".stripMargin,

    "agg_markov" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS to_type
        |  FROM ev),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  floor(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "agg_lorenz" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |dec AS (
        |  SELECT CAST(ntile(10) OVER (ORDER BY r, l_suppkey) AS BIGINT)
        |    AS decile, r
        |  FROM rev),
        |g AS (SELECT decile, count(*) AS n_suppliers,
        |  CAST(sum(r) AS BIGINT) AS rc FROM dec GROUP BY 1),
        |cm AS (
        |  SELECT decile, n_suppliers, rc,
        |    CAST(sum(rc) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(rc) OVER () AS BIGINT) AS tot
        |  FROM g)
        |SELECT decile, n_suppliers, CAST(rc AS DOUBLE) / 100.0 AS revenue,
        |  floor(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) * 10000.0 + 0.5)
        |    / 10000.0 AS cum_share
        |FROM cm ORDER BY decile""".stripMargin,

    "win_bollinger" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vs
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, d, vs,
        |    CAST(count(*) OVER fr AS BIGINT) AS nf,
        |    CAST(sum(vs) OVER fr AS BIGINT) AS s1,
        |    CAST(sum(vs * vs) OVER fr AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT user_id, d, vs,
        |    CAST(s1 AS DOUBLE) / (CAST(nf AS DOUBLE) * 10000.0) AS mid,
        |    sqrt(CAST(nf AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
        |      (CAST(nf AS DOUBLE) * 10000.0) AS sd
        |  FROM w)
        |SELECT user_id, d, CAST(vs AS DOUBLE) / 10000.0 AS v, mid,
        |  mid - 2.0 * sd AS lower, mid + 2.0 * sd AS upper,
        |  CAST(CASE WHEN CAST(vs AS DOUBLE) / 10000.0 > mid + 2.0 * sd
        |    OR CAST(vs AS DOUBLE) / 10000.0 < mid - 2.0 * sd
        |    THEN 1 ELSE 0 END AS BIGINT) AS breach
        |FROM b ORDER BY user_id, d""".stripMargin,

    "project_unpivot" ->
      ("""WITH u AS (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT metric, count(*) AS n, """ + msum("value") + """ AS total
        |FROM u GROUP BY 1 ORDER BY 1""").stripMargin,

    "src_pk_audit" -> {
      def one(t: String, key: String) =
        s"""SELECT '$t' AS table_name, count(*) AS n_rows,
           |  count(DISTINCT $key) AS n_keys,
           |  count(*) - count(DISTINCT $key) AS dup_rows FROM $t""".stripMargin
      Seq(
        one("region", "r_regionkey"), one("nation", "n_nationkey"),
        one("customer", "c_custkey"), one("supplier", "s_suppkey"),
        one("part", "p_partkey"), one("orders", "o_orderkey"),
        one("lineitem", "(l_orderkey, l_linenumber)"),
        one("events", "event_id"), one("documents", "doc_id"),
        one("embeddings", "vec_id")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "agg_seasonality" ->
      """WITH days AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS c
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS te, count(*) AS td
        |  FROM days),
        |wd AS (
        |  SELECT (d + 3) % 7 AS weekday, count(*) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS n_events
        |  FROM days GROUP BY 1)
        |SELECT weekday, n_days, n_events,
        |  floor(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS avg_events,
        |  floor((CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)) /
        |    (CAST(te AS DOUBLE) / CAST(td AS DOUBLE)) * 10000.0 + 0.5)
        |    / 10000.0 AS idx
        |FROM wd, tot ORDER BY weekday""".stripMargin,

    // NOTE: a list_reduce with a STRUCT accumulator is NOT portable —
    // DuckDB 1.0 evaluates later struct fields against partially-updated
    // accumulator state (verified empirically), so the two-state fold is
    // spelled as a step-indexed recursive CTE whose per-step double trees
    // are token-identical to the Spark lambda.
    "win_holt" ->
      ("""WITH RECURSIVE daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    """ + msum("value") + """ AS v
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT user_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM daily),
        |rec(user_id, i, l, t) AS (
        |  SELECT user_id, i, v, CAST(0.0 AS DOUBLE)
        |  FROM ranked WHERE i = 1
        |  UNION ALL
        |  SELECT r.user_id, d.i,
        |    0.5 * d.v + 0.5 * (r.l + r.t),
        |    0.5 * ((0.5 * d.v + 0.5 * (r.l + r.t)) - r.l) + 0.5 * r.t
        |  FROM rec r JOIN ranked d
        |    ON d.user_id = r.user_id AND d.i = r.i + 1)
        |SELECT rec.user_id, n AS n_days, l AS level, t AS trend,
        |  l + t AS forecast
        |FROM rec JOIN ranked ON rec.user_id = ranked.user_id
        |  AND rec.i = ranked.i
        |WHERE rec.i = n
        |ORDER BY rec.user_id""").stripMargin,

    "agg_rfm" ->
      """WITH u AS (
        |  SELECT user_id, max(epoch_ms(ts) // 86400000) AS last_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS ms
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(last_day) AS maxd FROM u),
        |sc AS (
        |  SELECT user_id, maxd - last_day AS recency, frequency, ms,
        |    ntile(5) OVER (ORDER BY maxd - last_day DESC, user_id)
        |      AS r_score,
        |    ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY ms, user_id) AS m_score
        |  FROM u, mx)
        |SELECT user_id, recency, frequency,
        |  CAST(ms AS DOUBLE) / 10000.0 AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY user_id""".stripMargin,

    "agg_percentiles" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |x AS (SELECT lang, n_chars, rn, n,
        |  unnest([25, 50, 75, 90]) AS p FROM r)
        |SELECT lang, CAST(p AS BIGINT) AS p, n_chars AS value
        |FROM x WHERE rn = (p * n + 99) // 100
        |ORDER BY lang, p""".stripMargin,

    "win_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |t AS (
        |  SELECT event_id, user_id, event_type, ms,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_id END IGNORE NULLS) OVER w AS touch_id,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS) OVER w AS touch_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN ms END IGNORE NULLS) OVER w AS touch_ms
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ms, touch_id, touch_type,
        |  ms - touch_ms AS gap_ms
        |FROM t WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "agg_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |        FROM lineitem)
        |  WHERE cents > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
        |SELECT digit, n,
        |  floor(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS obs_share,
        |  floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 10000.0 + 0.5)
        |    / 10000.0 AS exp_share
        |FROM c ORDER BY digit""".stripMargin,

    "agg_hhi" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |bn AS (
        |  SELECT s_nationkey, r,
        |    CAST(sum(r) OVER (PARTITION BY s_nationkey) AS BIGINT) AS tot
        |  FROM rev JOIN supplier ON l_suppkey = s_suppkey),
        |qq AS (
        |  SELECT s_nationkey,
        |    CAST(r AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |    CAST(floor((CAST(r AS DOUBLE) / CAST(tot AS DOUBLE)) *
        |      (CAST(r AS DOUBLE) / CAST(tot AS DOUBLE)) * 1.0e9 + 0.5)
        |      AS BIGINT) AS q
        |  FROM bn)
        |SELECT n_name, count(*) AS n_suppliers,
        |  CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 1.0e9 AS hhi,
        |  floor(max(share) * 10000.0 + 0.5) / 10000.0 AS top_share
        |FROM qq JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "agg_autocorr" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS c
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT c, lag(c) OVER (ORDER BY d) AS prev FROM daily),
        |m AS (
        |  SELECT count(*) AS n, CAST(sum(prev) AS BIGINT) AS sx,
        |    CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(prev * prev) AS BIGINT) AS sxx,
        |    CAST(sum(c * c) AS BIGINT) AS syy,
        |    CAST(sum(prev * c) AS BIGINT) AS sxy
        |  FROM p WHERE prev IS NOT NULL)
        |SELECT n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |        CAST(n * syy - sy * sy AS DOUBLE))
        |  END AS r
        |FROM m""".stripMargin,

    "win_drawdown" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, d,
        |    CAST(sum(v) OVER (PARTITION BY user_id ORDER BY d) AS BIGINT)
        |      AS cum
        |  FROM daily),
        |pk AS (
        |  SELECT user_id, d, cum,
        |    CAST(max(cum) OVER (PARTITION BY user_id ORDER BY d) AS BIGINT)
        |      AS peak
        |  FROM w)
        |SELECT user_id, d,
        |  CAST(cum AS DOUBLE) / 10000.0 AS cum_value,
        |  CAST(peak AS DOUBLE) / 10000.0 AS peak_value,
        |  CASE WHEN peak > 0
        |    THEN floor(CAST(cum - peak AS DOUBLE) / CAST(peak AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 END AS drawdown
        |FROM pk ORDER BY user_id, d""".stripMargin,

    "win_skyline" ->
      """WITH pts AS (
        |  SELECT o_totalprice AS price, epoch_ms(o_orderdate) // 86400000
        |      AS day, count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2),
        |cand AS (
        |  SELECT price, day, n_orders FROM (
        |    SELECT price, day, n_orders,
        |      min(day) OVER (PARTITION BY price) AS mind
        |    FROM pts) WHERE day = mind),
        |sw AS (
        |  SELECT price, day, n_orders,
        |    min(day) OVER (ORDER BY price DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS minprev
        |  FROM cand)
        |SELECT price, day, n_orders FROM sw
        |WHERE minprev IS NULL OR day < minprev
        |ORDER BY price DESC""".stripMargin,

    "win_pct_change" ->
      ("""WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    """ + msum("value") + """ AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, d, v,
        |    lag(v) OVER (PARTITION BY user_id ORDER BY d) AS prev
        |  FROM daily)
        |SELECT user_id, d, v, prev,
        |  CASE WHEN prev IS NOT NULL AND prev != 0.0
        |    THEN floor((v - prev) / prev * 10000.0 + 0.5) / 10000.0 END
        |    AS pct_change
        |FROM l ORDER BY user_id, d""").stripMargin,

    "agg_linreg" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem)
        |  GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_c
        |  FROM s)
        |SELECT l_returnflag, n, slope_c / 100.0 AS slope,
        |  (CAST(sy AS DOUBLE) - slope_c * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 100.0 AS intercept
        |FROM d ORDER BY l_returnflag""".stripMargin,

    "agg_chisq" ->
      """WITH cells AS (
        |  SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hour,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, hour, o,
        |    CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
        |    CAST(sum(o) OVER (PARTITION BY hour) AS BIGINT) AS ct,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM cells),
        |e AS (
        |  SELECT event_type, hour, o,
        |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |  FROM m),
        |qv AS (
        |  SELECT event_type, hour,
        |    CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |      / e * 1e9 + 0.5) AS BIGINT) AS q
        |  FROM e)
        |SELECT count(*) AS n_cells,
        |  CAST((count(DISTINCT event_type) - 1)
        |    * (count(DISTINCT hour) - 1) AS BIGINT) AS dof,
        |  floor(CAST(sum(q) AS DOUBLE) / 1e9 * 10000.0 + 0.5) / 10000.0
        |    AS chi2
        |FROM qv""".stripMargin,

    "src_csv_dialect" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "agg_ohlc" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id, value,
        |    epoch_ms(ts) // 3600000 AS h
        |  FROM events)
        |SELECT user_id, h, count(*) AS n_events,
        |  min({'ms': ms, 'event_id': event_id, 'value': value}).value
        |    AS open,
        |  max({'ms': ms, 'event_id': event_id, 'value': value}).value
        |    AS close,
        |  min(value) AS low, max(value) AS high,
        |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS volume
        |FROM e GROUP BY 1, 2 ORDER BY user_id, h""".stripMargin,

    "join_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |  event_type FROM events),
        |clicks AS (
        |  SELECT user_id, ts_ms, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts_ms
        |  FROM e WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT p.purchase_id, p.user_id, p.ts_ms,
        |    c.click_id, c.ts_ms AS c_ts
        |  FROM purchases p ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND c.ts_ms <= p.ts_ms)
        |SELECT purchase_id, user_id, ts_ms AS purchase_ts_ms,
        |  CASE WHEN ts_ms - c_ts <= 3600000 THEN click_id END AS click_id,
        |  CASE WHEN ts_ms - c_ts <= 3600000 THEN c_ts END AS click_ts_ms,
        |  CASE WHEN ts_ms - c_ts <= 3600000 THEN ts_ms - c_ts END AS gap_ms
        |FROM m ORDER BY purchase_id""".stripMargin,

    "agg_mannwhitney" ->
      """WITH e AS (
        |  SELECT event_type AS g, CAST(round(value * 10000) AS BIGINT) AS q
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |bq AS (
        |  SELECT q, count(*) AS c,
        |    count(CASE WHEN g = 'click' THEN 1 END) AS c1
        |  FROM e GROUP BY 1),
        |cu AS (
        |  SELECT q, c, c1,
        |    CAST(sum(c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM bq),
        |r AS (SELECT c, c1, 2 * (cum - c) + c + 1 AS r2 FROM cu),
        |s AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c1 * r2) AS BIGINT) AS r1_2,
        |    CAST(sum(c * c * c - c) AS BIGINT) AS tsum
        |  FROM r),
        |d AS (
        |  SELECT n1, n - n1 AS n2, n, r1_2, tsum,
        |    2 * n1 * (n - n1) + n1 * (n1 + 1) - r1_2 AS u2
        |  FROM s)
        |SELECT n1, n2, CAST(u2 AS DOUBLE) / 2.0 AS u,
        |  (CAST(u2 AS DOUBLE) / 2.0
        |    - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
        |  sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |    ((CAST(n AS DOUBLE) + 1.0)
        |      - CAST(tsum AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) AS z_stat
        |FROM d""".stripMargin,

    // paired signed-rank: per-user Σq half-month diffs, |d| bucketed to
    // 100-unit granularity ((|d|-1)//100 — non-negative, so // matches
    // Spark div), half-unit tie-averaged ranks, one mirrored z tree
    "agg_wilcoxon_signed" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN h1 THEN q END) AS BIGINT) AS s1,
        |    count(CASE WHEN h1 THEN 1 END) AS n1,
        |    CAST(sum(CASE WHEN NOT h1 THEN q END) AS BIGINT) AS s2,
        |    count(CASE WHEN NOT h1 THEN 1 END) AS n2
        |  FROM (SELECT user_id, date_part('day', ts) <= 15 AS h1,
        |          CAST(round(value * 10000) AS BIGINT) AS q FROM events)
        |  GROUP BY 1),
        |dd AS (
        |  SELECT s2 - s1 AS d FROM pu
        |  WHERE n1 > 0 AND n2 > 0 AND s2 - s1 <> 0),
        |bq AS (
        |  SELECT (abs(d) - 1) // 100 AS b, count(*) AS c,
        |    count(CASE WHEN d > 0 THEN 1 END) AS cpos
        |  FROM dd GROUP BY 1),
        |cu AS (
        |  SELECT b, c, cpos,
        |    CAST(sum(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM bq),
        |r AS (SELECT c, cpos, 2 * (cum - c) + c + 1 AS r2 FROM cu),
        |s AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(cpos * r2) AS BIGINT) AS w2plus,
        |    CAST(sum(c * c * c - c) AS BIGINT) AS tsum
        |  FROM r)
        |SELECT n, CAST(w2plus AS DOUBLE) / 2.0 AS w_plus,
        |  floor(((CAST(w2plus AS DOUBLE) / 2.0
        |      - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0) /
        |    sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) *
        |      (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |      - CAST(tsum AS DOUBLE) / 48.0)) * 10000.0 + 0.5) / 10000.0
        |    AS z_stat
        |FROM s""".stripMargin,

    // Mood's median test: grand lower median off the distinct-value
    // spine, 2×k exact cells, nano-quantized (o-e)^2/e fold
    "agg_mood_median" ->
      """WITH bqg AS (
        |  SELECT CAST(round(value * 10000) AS BIGINT) AS q,
        |    event_type AS g, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT q, CAST(sum(c) AS BIGINT) AS ct FROM bqg GROUP BY 1),
        |cu AS (
        |  SELECT q, ct,
        |    CAST(sum(ct) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM sp),
        |nn AS (SELECT max(cum) AS n FROM cu),
        |md AS (SELECT min(q) AS med FROM cu, nn WHERE 2 * cum >= n),
        |pg AS (
        |  SELECT g,
        |    CAST(sum(CASE WHEN q > med THEN c ELSE 0 END) AS BIGINT) AS oa,
        |    CAST(sum(CASE WHEN q <= med THEN c ELSE 0 END) AS BIGINT) AS ob
        |  FROM bqg, md GROUP BY 1),
        |tt AS (
        |  SELECT CAST(sum(oa) AS BIGINT) AS ta, CAST(sum(ob) AS BIGINT) AS tb,
        |    count(*) AS k
        |  FROM pg),
        |ex AS (
        |  SELECT k, ta, tb, oa, ob,
        |    CAST(oa + ob AS DOUBLE) * CAST(ta AS DOUBLE)
        |      / CAST(ta + tb AS DOUBLE) AS ea,
        |    CAST(oa + ob AS DOUBLE) * CAST(tb AS DOUBLE)
        |      / CAST(ta + tb AS DOUBLE) AS eb
        |  FROM pg, tt),
        |cells AS (
        |  SELECT k, ta, tb, oa, ob,
        |    CAST(floor(((CAST(oa AS DOUBLE) - ea) * (CAST(oa AS DOUBLE) - ea)
        |        / ea
        |      + (CAST(ob AS DOUBLE) - eb) * (CAST(ob AS DOUBLE) - eb) / eb)
        |      * 1000000000.0 + 0.5) AS BIGINT) AS cellq
        |  FROM ex)
        |SELECT CAST(sum(oa + ob) AS BIGINT) AS n, k, ta AS n_above,
        |  floor((CAST(sum(cellq) AS DOUBLE) / 1000000000.0) * 10000.0 + 0.5)
        |    / 10000.0 AS chi2,
        |  CAST(k - 1 AS BIGINT) AS df
        |FROM cells GROUP BY k, ta, tb""".stripMargin,

    // Kendall's W: days judge the k event types by exact daily Σq
    // totals; complete blocks only; half-unit within-day ranks
    "agg_kendall_w" ->
      """WITH dt AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, event_type AS g,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sq
        |  FROM events GROUP BY 1, 2),
        |kc AS (SELECT count(DISTINCT g) AS k FROM dt),
        |fd AS (
        |  SELECT d FROM dt GROUP BY d
        |  HAVING count(*) = (SELECT k FROM kc)),
        |rf AS (SELECT dt.* FROM dt JOIN fd USING (d)),
        |bds AS (SELECT d, sq, count(*) AS c FROM rf GROUP BY 1, 2),
        |cu AS (
        |  SELECT d, sq, c,
        |    CAST(sum(c) OVER (PARTITION BY d ORDER BY sq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM bds),
        |r AS (SELECT d, sq, c, 2 * (cum - c) + c + 1 AS r2 FROM cu),
        |rk AS (
        |  SELECT rf.g, r.r2 FROM rf JOIN r ON rf.d = r.d AND rf.sq = r.sq),
        |pt AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS tsum, count(*) AS m FROM (
        |    SELECT d, CAST(sum(c * c * c - c) AS BIGINT) AS t
        |    FROM cu GROUP BY 1)),
        |pg AS (
        |  SELECT CAST(sum(r2g * r2g) AS BIGINT) AS sr2, count(*) AS kk
        |  FROM (SELECT g, CAST(sum(r2) AS BIGINT) AS r2g FROM rk GROUP BY 1)),
        |f AS (
        |  SELECT m, kk, CAST(m AS DOUBLE) AS md, CAST(kk AS DOUBLE) AS kd,
        |    3.0 * CAST(sr2 AS DOUBLE)
        |      - 3.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
        |        * CAST(kk AS DOUBLE) * (CAST(kk AS DOUBLE) + 1.0)
        |        * (CAST(kk AS DOUBLE) + 1.0) AS num,
        |    CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(kk AS DOUBLE)
        |        * (CAST(kk AS DOUBLE) * CAST(kk AS DOUBLE) - 1.0)
        |      - CAST(m AS DOUBLE) * CAST(tsum AS DOUBLE) AS den
        |  FROM pg, pt)
        |SELECT m AS m_days, kk AS k_types,
        |  floor((num / den) * 10000.0 + 0.5) / 10000.0 AS w_concordance,
        |  floor((md * (kd - 1.0) * num / den) * 10000.0 + 0.5) / 10000.0
        |    AS chi2
        |FROM f""".stripMargin,

    // hypergeometric enrichment on (weekend × high-value): portable
    // (ed+4)%7 weekend, exact cells, Stirling ln-factorials mirrored
    "agg_hypergeom_test" -> {
      def lnStir(z: String): String =
        s"(($z - 0.5) * ln($z) - $z + 0.9189385332046727" +
          s" + 1.0 / (12.0 * $z) - 1.0 / (360.0 * $z * $z * $z)" +
          s" + 1.0 / (1260.0 * $z * $z * $z * $z * $z))"
      def lfact(n: String): String = {
        val x = s"CAST($n AS DOUBLE)"
        s"(${lnStir(s"($x + 7.0)")} - ln(($x + 1.0) * ($x + 2.0)" +
          s" * ($x + 3.0) * ($x + 4.0) * ($x + 5.0) * ($x + 6.0)))"
      }
      s"""WITH o AS (
         |  SELECT datediff('day', DATE '1970-01-01',
         |      CAST(o_orderdate AS DATE)) AS ed,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |sp AS (SELECT cents, count(*) AS ct FROM o GROUP BY 1),
         |cu AS (
         |  SELECT cents, ct,
         |    CAST(sum(ct) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM sp),
         |nn AS (SELECT max(cum) AS n FROM cu),
         |md AS (SELECT min(cents) AS med FROM cu, nn WHERE 2 * cum >= n),
         |cells AS (
         |  SELECT
         |    count(CASE WHEN we AND hi THEN 1 END) AS a,
         |    count(CASE WHEN we AND NOT hi THEN 1 END) AS b,
         |    count(CASE WHEN NOT we AND hi THEN 1 END) AS c,
         |    count(CASE WHEN NOT we AND NOT hi THEN 1 END) AS d
         |  FROM (SELECT (ed + 4) % 7 IN (0, 6) AS we, cents > med AS hi
         |        FROM o, md)),
         |t AS (
         |  SELECT a, b, c, d, a + b + c + d AS n,
         |    ${lfact("a + b")} + ${lfact("c + d")} + ${lfact("a + c")}
         |      + ${lfact("b + d")} - ${lfact("n")} - ${lfact("a")}
         |      - ${lfact("b")} - ${lfact("c")} - ${lfact("d")} AS lnp,
         |    CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
         |      / CAST(a + b + c + d AS DOUBLE) AS mu
         |  FROM cells),
         |t2 AS (
         |  SELECT a, b, c, d, n, lnp, mu,
         |    mu * CAST(c + d AS DOUBLE) * CAST(b + d AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vr
         |  FROM t)
         |SELECT n, a, b, c, d,
         |  floor((CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)) * 10000.0
         |    + 0.5) / 10000.0 AS odds_ratio,
         |  floor((lnp / ${math.log(10.0)}) * 10000.0 + 0.5) / 10000.0
         |    AS log10_p,
         |  floor(((CAST(a AS DOUBLE) - mu) / sqrt(vr)) * 10000.0 + 0.5)
         |    / 10000.0 AS z_stat
         |FROM t2""".stripMargin
    },

    // TWAP per (user, day): each event's value holds until the next
    // event; exact BIGINT Σ(q·gap)/Σgap, one division at the end
    "win_twap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    epoch_ms(ts) AS ts_ms, event_id,
        |    CAST(round(value * 10000) AS BIGINT) AS q
        |  FROM events),
        |g AS (
        |  SELECT user_id, d, q,
        |    coalesce(lead(ts_ms) OVER (PARTITION BY user_id, d
        |      ORDER BY ts_ms, event_id) - ts_ms, 0) AS gap
        |  FROM e),
        |a AS (
        |  SELECT user_id, d, count(*) AS n_events,
        |    CAST(sum(q * gap) AS BIGINT) AS num,
        |    CAST(sum(gap) AS BIGINT) AS den
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, d, n_events,
        |  floor((CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 10000.0)
        |    * 10000.0 + 0.5) / 10000.0 AS twap
        |FROM a WHERE den > 0 ORDER BY user_id, d""".stripMargin,

    // rolling 7-day beta vs the all-types market: exact daily Σq flows,
    // HUGEINT cross-moments mirror Spark's DECIMAL(38,0)
    "win_beta_rolling" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d, event_type AS g,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |mkt AS (SELECT d, CAST(sum(x) AS BIGINT) AS m FROM daily GROUP BY 1),
        |j AS (
        |  SELECT daily.g, daily.d, daily.x, mkt.m
        |  FROM daily JOIN mkt USING (d)),
        |wf AS (
        |  SELECT g, d, count(*) OVER w AS n,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx,
        |    CAST(sum(m) OVER w AS BIGINT) AS sm,
        |    sum(CAST(x AS HUGEINT) * m) OVER w AS sxm,
        |    sum(CAST(m AS HUGEINT) * m) OVER w AS smm
        |  FROM j
        |  WINDOW w AS (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT g, d, n,
        |    CAST(CAST(n AS HUGEINT) * sxm - CAST(sx AS HUGEINT) * sm
        |      AS DOUBLE) AS num,
        |    CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm
        |      AS DOUBLE) AS den
        |  FROM wf)
        |SELECT g AS event_type, d, n AS n_days,
        |  CASE WHEN den <> 0.0
        |    THEN floor((num / den) * 10000.0 + 0.5) / 10000.0 END AS beta_7d
        |FROM b ORDER BY event_type, d""".stripMargin,

    // Cronbach's alpha: complete-case per-(user,item) Σq scores, exact
    // moments (HUGEINT Σx² ↔ DECIMAL(38,0)), sorted-list item-var fold
    "agg_cronbach_alpha" ->
      """WITH ui AS (
        |  SELECT user_id AS u, event_type AS i,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |kc AS (SELECT count(DISTINCT i) AS k FROM ui),
        |comp AS (
        |  SELECT u, CAST(sum(x) AS BIGINT) AS t FROM ui GROUP BY 1
        |  HAVING count(*) = (SELECT k FROM kc)),
        |rf AS (SELECT ui.* FROM ui JOIN comp USING (u)),
        |pi AS (
        |  SELECT i, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM rf GROUP BY 1),
        |vi AS (
        |  SELECT i, (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |    AS vi
        |  FROM pi),
        |tt AS (
        |  SELECT count(*) AS n, CAST(sum(t) AS BIGINT) AS st,
        |    sum(CAST(t AS HUGEINT) * t) AS stt
        |  FROM comp),
        |vt AS (
        |  SELECT n, (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
        |      * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |    AS vt
        |  FROM tt),
        |fold AS (
        |  SELECT count(*) AS k,
        |    list_sort(list({'i': i, 'vi': vi})) AS arr
        |  FROM vi)
        |SELECT vt.n AS n_users, fold.k AS k_items,
        |  floor((CAST(fold.k AS DOUBLE) / CAST(fold.k - 1 AS DOUBLE) *
        |    (1.0 - list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.vi)), (acc, x) -> acc + x)
        |      / vt.vt)) * 10000.0 + 0.5) / 10000.0 AS alpha
        |FROM fold, vt""".stripMargin,

    // partial correlation of daily (click Σq, purchase Σq) given event
    // count: HUGEINT cross-moments ↔ DECIMAL(38,0), one double tree
    "agg_partial_corr" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y,
        |    count(*) AS z
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(z AS HUGEINT) * z) AS szz,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * z) AS sxz,
        |    sum(CAST(y AS HUGEINT) * z) AS syz
        |  FROM daily),
        |r AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |        * CAST(sy AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |        (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
        |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)
        |        * CAST(sz AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |        (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
        |          - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
        |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE)
        |        * CAST(sz AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) *
        |        (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
        |          - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz
        |  FROM m)
        |SELECT n AS n_days,
        |  floor(rxy * 10000.0 + 0.5) / 10000.0 AS r_xy,
        |  floor(rxz * 10000.0 + 0.5) / 10000.0 AS r_xz,
        |  floor(ryz * 10000.0 + 0.5) / 10000.0 AS r_yz,
        |  floor(((rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz)
        |    * (1.0 - ryz * ryz))) * 10000.0 + 0.5) / 10000.0 AS r_partial
        |FROM r""".stripMargin,

    // Tukey–Kramer HSD on the agg_anova weekday design: exact group
    // moments, order-free MSW fold, 21-pair cross of the moment table
    "agg_tukey_hsd" ->
      """WITH r AS (
        |  SELECT (epoch_ms(o_orderdate) // 86400000) % 7 AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |grp AS (
        |  SELECT g, count(*) AS ng, CAST(sum(v) AS BIGINT) AS sg,
        |    sum(CAST(v AS HUGEINT) * v) AS qg
        |  FROM r GROUP BY 1),
        |terms AS (
        |  SELECT g, ng,
        |    CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE) AS ssw
        |  FROM grp),
        |msw AS (
        |  SELECT CAST(sum(ng) AS BIGINT) AS n, count(*) AS k,
        |    list_sort(list({'g': g, 'ssw': ssw})) AS arr
        |  FROM terms),
        |mw AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.ssw)), (acc, x) -> acc + x)
        |    / CAST(n - k AS DOUBLE) AS msw
        |  FROM msw),
        |p AS (
        |  SELECT a.g AS g_a, b.g AS g_b, a.ng AS na, b.ng AS nb,
        |    CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
        |      - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE) AS diff
        |  FROM grp a JOIN grp b ON a.g < b.g)
        |SELECT g_a, g_b, na AS n_a, nb AS n_b,
        |  floor((diff / 100.0) * 10000.0 + 0.5) / 10000.0 AS mean_diff,
        |  floor((abs(diff) / sqrt(msw / 2.0 * (1.0 / CAST(na AS DOUBLE)
        |    + 1.0 / CAST(nb AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0
        |    AS q_stat
        |FROM p, mw ORDER BY g_a, g_b""".stripMargin,

    // Dunn's post-hoc on the Kruskal–Wallis rank frame: half-unit
    // tie-averaged ranks, HUGEINT rank sums, per-pair z tree
    "agg_dunn_test" ->
      """WITH bqg AS (
        |  SELECT CAST(round(value * 10000) AS BIGINT) AS q,
        |    event_type AS g, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT q, CAST(sum(c) AS BIGINT) AS ct FROM bqg GROUP BY 1),
        |cu AS (
        |  SELECT q, ct,
        |    CAST(sum(ct) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM sp),
        |r2f AS (SELECT q, ct, 2 * (cum - ct) + ct + 1 AS r2 FROM cu),
        |pg AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS ng,
        |    sum(CAST(c AS HUGEINT) * r2) AS r2g
        |  FROM bqg JOIN r2f USING (q) GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(ct) AS BIGINT) AS n,
        |    sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tsum
        |  FROM r2f),
        |p AS (
        |  SELECT a.g AS type_a, b.g AS type_b, a.ng AS na, b.ng AS nb,
        |    a.r2g AS ra, b.r2g AS rb, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
        |      - CAST(tsum AS DOUBLE)
        |        / (12.0 * (CAST(n AS DOUBLE) - 1.0)) AS sig2
        |  FROM pg a JOIN pg b ON a.g < b.g, tot)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  floor(((CAST(ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE))
        |    - CAST(rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE))) /
        |    sqrt(sig2 * (1.0 / CAST(na AS DOUBLE)
        |      + 1.0 / CAST(nb AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0
        |    AS z_dunn
        |FROM p ORDER BY type_a, type_b""".stripMargin,

    "src_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |       THEN o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "agg_histogram2d" ->
      """SELECT (epoch_ms(ts) // 3600000) % 24 AS hour,
        |  CAST(floor(value / 10) AS BIGINT) AS vbin, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour, vbin""".stripMargin,

    "join_lateral" -> Lateral,

    "join_interval_overlap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |l AS (
        |  SELECT user_id, event_id, ms,
        |    lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS p
        |  FROM e),
        |brk AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN p IS NULL OR ms - p > 1800000 THEN 1 ELSE 0 END AS b
        |  FROM l),
        |sid AS (
        |  SELECT user_id, ms,
        |    CAST(sum(b) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM brk),
        |sess AS (
        |  SELECT user_id, sid, min(ms) AS st, max(ms) AS en
        |  FROM sid GROUP BY 1, 2)
        |SELECT DISTINCT a.user_id AS u1, a.sid AS s1,
        |  b.user_id AS u2, b.sid AS s2,
        |  greatest(a.st, b.st) AS ov_start, least(a.en, b.en) AS ov_end,
        |  least(a.en, b.en) - greatest(a.st, b.st) AS overlap_ms
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.st < b.en AND b.st < a.en
        |ORDER BY u1, s1, u2, s2""".stripMargin,

    "agg_quantile_shift" ->
      """WITH o AS (
        |  SELECT o_custkey % 2 AS arm,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders),
        |r AS (
        |  SELECT arm, cents,
        |    row_number() OVER (PARTITION BY arm ORDER BY cents, o_orderkey)
        |      AS rin,
        |    count(*) OVER (PARTITION BY arm) AS n
        |  FROM o),
        |picks AS (
        |  SELECT arm, CAST(p AS BIGINT) AS p, cents
        |  FROM r CROSS JOIN (VALUES (25), (50), (75)) v(p)
        |  WHERE rin = (p * n + 99) // 100)
        |SELECT a.p AS p,
        |  CAST(a.cents AS DOUBLE) / 100.0 AS value_a,
        |  CAST(b.cents AS DOUBLE) / 100.0 AS value_b,
        |  CAST(b.cents - a.cents AS DOUBLE) / 100.0 AS shift,
        |  CASE WHEN a.cents > 0 THEN
        |    floor(CAST(b.cents - a.cents AS DOUBLE) /
        |      CAST(a.cents AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |  END AS shift_rel
        |FROM picks a JOIN picks b ON a.p = b.p AND a.arm = 0 AND b.arm = 1
        |ORDER BY p""".stripMargin,

    "agg_bayes_ab" ->
      """WITH pu AS (
        |  SELECT user_id % 2 AS arm, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |arms AS (SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
        |  FROM pu GROUP BY 1),
        |ab AS (
        |  SELECT a.n AS n_a, a.c AS conv_a, b.n AS n_b, b.c AS conv_b,
        |    (CAST(a.c AS DOUBLE) + 1.0) / (CAST(a.n AS DOUBLE) + 2.0) AS pa,
        |    (CAST(b.c AS DOUBLE) + 1.0) / (CAST(b.n AS DOUBLE) + 2.0) AS pb,
        |    CAST(a.n AS DOUBLE) AS nad, CAST(b.n AS DOUBLE) AS nbd
        |  FROM arms a, arms b WHERE a.arm = 0 AND b.arm = 1)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  floor(pa * 10000.0 + 0.5) / 10000.0 AS post_mean_a,
        |  floor(pb * 10000.0 + 0.5) / 10000.0 AS post_mean_b,
        |  floor((pb - pa) / sqrt(pa * (1.0 - pa) / (nad + 3.0)
        |    + pb * (1.0 - pb) / (nbd + 3.0)) * 10000.0 + 0.5) / 10000.0
        |    AS z_score
        |FROM ab""".stripMargin,

    "agg_bootstrap_diff_ci" ->
      """WITH x AS (
        |  SELECT o_orderkey, o_custkey % 2 AS arm,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v, u.r
        |  FROM orders, UNNEST(range(0, 32)) AS u(r)),
        |reps AS (
        |  SELECT r,
        |    CAST(sum(CASE WHEN arm = 0 THEN v END) AS BIGINT) AS sa,
        |    count(CASE WHEN arm = 0 THEN 1 END) AS ca,
        |    CAST(sum(CASE WHEN arm = 1 THEN v END) AS BIGINT) AS sb,
        |    count(CASE WHEN arm = 1 THEN 1 END) AS cb
        |  FROM x
        |  WHERE CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '_' ||
        |    CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) % 2 = 0
        |  GROUP BY 1),
        |diffs AS (SELECT r, CAST(sa AS DOUBLE) / CAST(ca AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(cb AS DOUBLE) AS diff
        |  FROM reps),
        |rk AS (SELECT diff,
        |  row_number() OVER (ORDER BY diff, r) AS rn FROM diffs),
        |lo AS (SELECT diff AS lo FROM rk WHERE rn = 2),
        |hi AS (SELECT diff AS hi FROM rk WHERE rn = 31),
        |base AS (SELECT o_custkey % 2 AS arm, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sv
        |  FROM orders GROUP BY 1),
        |m AS (SELECT
        |    (SELECT CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) FROM base
        |      WHERE arm = 0) AS ma,
        |    (SELECT CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) FROM base
        |      WHERE arm = 1) AS mb)
        |SELECT floor(ma - mb + 0.5) / 100.0 AS diff_mean,
        |  floor(lo + 0.5) / 100.0 AS ci_lo,
        |  floor(hi + 0.5) / 100.0 AS ci_hi
        |FROM m, lo, hi""".stripMargin,

    "agg_effect_size" ->
      """WITH mom AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s1,
        |    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2
        |  FROM (SELECT event_type,
        |          CAST(round(value * 10000) AS BIGINT) AS q FROM events)
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS na, a.s1 AS s1a, a.s2 AS s2a,
        |    b.n AS nb, b.s1 AS s1b, b.s2 AS s2b
        |  FROM mom a JOIN mom b ON a.event_type < b.event_type),
        |d AS (
        |  SELECT type_a, type_b, na, nb,
        |    CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS vb
        |  FROM p),
        |dd AS (
        |  SELECT type_a, type_b, na, nb,
        |    (ma - mb) / sqrt(((CAST(na AS DOUBLE) - 1.0) * va
        |      + (CAST(nb AS DOUBLE) - 1.0) * vb) /
        |      (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)) AS d
        |  FROM d)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  floor(d * 10000.0 + 0.5) / 10000.0 AS cohen_d,
        |  floor(d * (1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE)
        |    + CAST(nb AS DOUBLE)) - 9.0)) * 10000.0 + 0.5) / 10000.0
        |    AS hedges_g
        |FROM dd ORDER BY type_a, type_b""".stripMargin,

    "agg_ttest" ->
      """WITH mom AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s1, CAST(sum(q * q) AS BIGINT) AS s2
        |  FROM (SELECT event_type,
        |          CAST(round(value * 10000) AS BIGINT) AS q FROM events)
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS na, a.s1 AS s1a, a.s2 AS s2a,
        |    b.n AS nb, b.s1 AS s1b, b.s2 AS s2b
        |  FROM mom a JOIN mom b ON a.event_type < b.event_type),
        |d AS (
        |  SELECT type_a, type_b, na, nb,
        |    CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS vb
        |  FROM p),
        |se AS (
        |  SELECT type_a, type_b, na, nb, ma, mb,
        |    va / CAST(na AS DOUBLE) AS sea, vb / CAST(nb AS DOUBLE) AS seb
        |  FROM d)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  (ma - mb) / sqrt(sea + seb) AS t_stat,
        |  ((sea + seb) * (sea + seb)) /
        |    (sea * sea / (CAST(na AS DOUBLE) - 1.0)
        |      + seb * seb / (CAST(nb AS DOUBLE) - 1.0)) AS df_welch
        |FROM se ORDER BY type_a, type_b""".stripMargin,

    // same moment CTEs as agg_ttest; HUGEINT mirrors the Spark side's
    // DECIMAL(38,0) Σq² exactly, both cast to DOUBLE in the same tree
    "agg_tost_equivalence" ->
      """WITH mom AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s1, sum(CAST(q AS HUGEINT) * q) AS s2
        |  FROM (SELECT event_type,
        |          CAST(round(value * 10000) AS BIGINT) AS q FROM events)
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS na, a.s1 AS s1a, a.s2 AS s2a,
        |    b.n AS nb, b.s1 AS s1b, b.s2 AS s2b
        |  FROM mom a JOIN mom b ON a.event_type < b.event_type),
        |d AS (
        |  SELECT type_a, type_b, na, nb,
        |    CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE) AS diff,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS vb
        |  FROM p),
        |t AS (
        |  SELECT type_a, type_b, na, nb, diff,
        |    sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) AS se,
        |    0.1 * sqrt(((CAST(na AS DOUBLE) - 1.0) * va
        |        + (CAST(nb AS DOUBLE) - 1.0) * vb)
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)) AS delta
        |  FROM d)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  diff / 10000.0 AS mean_diff, delta / 10000.0 AS margin,
        |  (diff + delta) / se AS t_lower, (delta - diff) / se AS t_upper,
        |  least((diff + delta) / se, (delta - diff) / se) > 1.6449
        |    AS equivalent
        |FROM t ORDER BY type_a, type_b""".stripMargin,

    "win_cusum" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_ms,
        |    list_transform(list_sort(list(
        |      {'ts_ms': ts_ms, 'event_id': event_id, 'value': value})
        |      OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |        ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)),
        |      x -> x.value) AS vs
        |  FROM e),
        |c AS (
        |  SELECT user_id, event_id, ts_ms, CAST(len(vs) AS BIGINT)
        |      AS n_frame,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
        |      (acc, x) -> CASE WHEN acc + (x - 100.0) > 0.0
        |        THEN acc + (x - 100.0) ELSE 0.0 END) AS cusum
        |  FROM w)
        |SELECT user_id, event_id, ts_ms, n_frame, cusum,
        |  cusum > 500.0 AS is_drifted
        |FROM c ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "agg_weighted_median" ->
      """WITH bv AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS wv
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v, wv,
        |    CAST(sum(wv) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(wv) OVER (PARTITION BY l_returnflag) AS BIGINT) AS t
        |  FROM bv)
        |SELECT l_returnflag, min(v) AS w_median,
        |  max(t) AS total_weight_cents
        |FROM c WHERE cum * 2 >= t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT c_nationkey, x,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY x, o_custkey) AS i
        |  FROM spend JOIN customer ON o_custkey = c_custkey),
        |s AS (
        |  SELECT c_nationkey, count(*) AS n_cust,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(i * x) AS BIGINT) AS six
        |  FROM rk GROUP BY 1)
        |SELECT c_nationkey, n_cust,
        |  (2.0 * CAST(six AS DOUBLE)
        |    - CAST(n_cust + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / (CAST(n_cust AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
        |FROM s ORDER BY c_nationkey""".stripMargin,

    "win_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    CAST(round(value * 10000) AS BIGINT) AS q
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_ms, q,
        |    count(*) OVER fr AS n,
        |    CAST(sum(q) OVER fr AS BIGINT) AS s1,
        |    CAST(sum(q * q) OVER fr AS BIGINT) AS s2
        |  FROM e
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT user_id, event_id, ts_ms, q, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS v
        |  FROM w WHERE n >= 5),
        |z AS (
        |  SELECT user_id, event_id, ts_ms, n,
        |    CASE WHEN v > 0 THEN (CAST(q AS DOUBLE) - m) / sqrt(v) END AS z
        |  FROM d)
        |SELECT user_id, event_id, ts_ms, n AS n_frame, z,
        |  coalesce(z > 2.0 OR z < -2.0, false) AS is_anomaly
        |FROM z ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "win_ewma" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_ms,
        |    list_transform(list_sort(list(
        |      {'ts_ms': ts_ms, 'event_id': event_id, 'value': value})
        |      OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
        |      x -> x.value) AS vs
        |  FROM e)
        |SELECT user_id, event_id, ts_ms, CAST(len(vs) AS BIGINT) AS n_frame,
        |  list_reduce(vs, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
        |FROM w ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "agg_skew_kurt" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s1, CAST(sum(q*q) AS BIGINT) AS s2,
        |    CAST(sum(q*q*q) AS BIGINT) AS s3,
        |    CAST(sum(q*q*q*q) AS BIGINT) AS s4
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
        |        FROM lineitem)
        |  GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM s),
        |c AS (
        |  SELECT l_returnflag, n, m, e2 - m*m AS m2,
        |    e3 - 3.0*m*e2 + 2.0*m*m*m AS m3,
        |    e4 - 4.0*m*e3 + 6.0*m*m*e2 - 3.0*m*m*m*m AS m4
        |  FROM m)
        |SELECT l_returnflag, n, m AS mean, m2 AS var_pop,
        |  m3 / (m2 * sqrt(m2)) AS skew_pop,
        |  m4 / (m2 * m2) - 3.0 AS kurt_excess
        |FROM c ORDER BY l_returnflag""".stripMargin,

    "win_rolling_median" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts_ms,
        |    list_sort(list(value) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms, event_id
        |      ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM e)
        |SELECT user_id, event_id, ts_ms, CAST(len(arr) AS BIGINT) AS n_frame,
        |  arr[CAST((len(arr) + 1) // 2 AS INT)] AS med_lo,
        |  arr[CAST(len(arr) // 2 + 1 AS INT)] AS med_hi
        |FROM w ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "win_gap_fill" ->
      ("""WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    """ + msum("value") + """ AS day_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(d) AS mn, max(d) AS mx
        |          FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS d
        |         FROM spans)
        |SELECT g.user_id, g.d, daily.day_value,
        |  daily.day_value IS NULL AS is_gap,
        |  last_value(daily.day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM grid g LEFT JOIN daily
        |  ON g.user_id = daily.user_id AND g.d = daily.d
        |ORDER BY 1, 2""").stripMargin,

    "join_bucketed" ->
      ("""SELECT o_orderpriority, count(*) AS n_items,
        |  """ + msum("l_extendedprice * (1 - l_discount)") + """ AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""").stripMargin,

    "win_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS d FROM events),
        |isl AS (
        |  SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS g
        |  FROM days),
        |st AS (
        |  SELECT user_id, g, count(*) AS len, min(d) AS start_day
        |  FROM isl GROUP BY 1, 2),
        |mx AS (
        |  SELECT user_id, len, start_day,
        |    max(len) OVER (PARTITION BY user_id) AS m
        |  FROM st)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS max_streak,
        |  min(CASE WHEN len = m THEN start_day END) AS best_start_day
        |FROM mx GROUP BY user_id ORDER BY user_id""".stripMargin,

    "agg_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, c, CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM c),
        |t AS (
        |  SELECT user_id, c, n,
        |    CAST(floor(-ln(c / n) * 1e9 + 0.5) AS BIGINT) AS t
        |  FROM w)
        |SELECT user_id, max(n) AS n_events, count(*) AS n_types,
        |  round(CAST(sum(c * t) AS DOUBLE) / (max(n) * 1e9), 4) AS entropy_nats
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "sql_q2" -> Q2,
    "sql_q3" -> Q3,
    "sql_q4" -> Q4,
    "sql_q5" -> Q5,
    "sql_q6" -> Q6,
    "sql_q7" -> Q7,
    "sql_q8" -> Q8,
    "sql_q9" -> Q9,
    "sql_q10" -> Q10,
    "sql_q11" -> Q11,
    "sql_q12" -> Q12,
    "sql_q13" -> Q13,
    "sql_q14" -> Q14,
    "sql_q15" -> Q15,
    "sql_q16" -> Q16,
    "sql_q17" -> Q17,
    "sql_q18" -> Q18,
    "sql_q19" -> Q19,
    "sql_q20" -> Q20,
    "sql_q21" -> Q21,
    "sql_q22" -> Q22,
    // event_date <= 2024-01-15 on the partitioned journal is exactly
    // ts < 2024-01-16 00:00 UTC on the raw table
    "src_partitioned" ->
      s"""SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS n,
         |  ${msum("value")} AS sum_value
         |FROM events
         |WHERE epoch_ms(ts) < epoch_ms(TIMESTAMP '2024-01-16 00:00:00')
         |GROUP BY 1 ORDER BY day""".stripMargin,

    "win_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey AS p,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM rev),
        |rk AS (SELECT p, r,
        |  CAST(row_number() OVER (ORDER BY r DESC, p) AS BIGINT) AS rn,
        |  CAST(sum(r) OVER (ORDER BY r DESC, p ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM rev)
        |SELECT p, CAST(r AS DOUBLE) / 10000.0 AS revenue, rn,
        |  round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 4) AS cum_share
        |FROM rk, tot WHERE cum * 5 <= t * 4
        |ORDER BY rn""".stripMargin,

    "agg_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d FROM events),
        |su AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY 1)
        |SELECT su.d0 AS cohort_day, ev.d - su.d0 AS day_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN su USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    "win_sessionize" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS tms, event_id FROM events),
        |g AS (SELECT user_id, tms, event_id,
        |  CASE WHEN lag(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) IS NULL
        |         OR tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) > 1800000
        |       THEN 1 ELSE 0 END AS brk FROM ev),
        |s AS (SELECT user_id, tms,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_seq FROM g)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events, min(tms) AS start_ms,
        |  max(tms) - min(tms) AS dur_ms
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "win_rank_change" ->
      """WITH rev AS (
        |  SELECT l_partkey AS p, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT p, yr, row_number() OVER (PARTITION BY yr ORDER BY r DESC, p) AS rnk
        |  FROM rev)
        |SELECT a.p, a.rnk AS rank_1996, b.rnk AS rank_1997, a.rnk - b.rnk AS moved
        |FROM rk a JOIN rk b ON a.p = b.p AND a.yr = 1996 AND b.yr = 1997
        |ORDER BY abs(a.rnk - b.rnk) DESC, a.p""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |  count(*) AS n, min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "agg_funnel" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
        |  count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
        |  count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS n_funnel
        |FROM pu""".stripMargin,
    // ===== §2.1 scans =====
    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 100""".stripMargin,

    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "src_json_props" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |  count(*) AS cnt, ${msum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "sink_parquet" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_totalprice > 300000
        |ORDER BY o_orderkey""".stripMargin,

    "sink_partitioned" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    "sink_merge_upsert" ->
      """WITH cur AS (
        |  SELECT o_custkey AS ck, count(*) AS n0,
        |    CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT)) AS BIGINT) AS t0
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1),
        |upd AS (
        |  SELECT o_custkey AS uk, count(*) AS n1,
        |    CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT)) AS BIGINT) AS t1
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT coalesce(ck, uk) AS custkey,
        |  coalesce(n0, 0) + coalesce(n1, 0) AS n_orders,
        |  CAST(coalesce(t0, 0) + coalesce(t1, 0) AS DOUBLE) / 10000.0 AS total_price,
        |  CASE WHEN ck IS NULL THEN 'inserted'
        |       WHEN uk IS NULL THEN 'unchanged'
        |       ELSE 'updated' END AS merge_action
        |FROM cur FULL OUTER JOIN upd ON ck = uk
        |ORDER BY custkey""".stripMargin,

    // ===== §2.2 filters / projections =====
    "filter_basic" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity, l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 30
        |  AND l_suppkey IN (1, 2, 3)
        |  AND (nullif(l_returnflag, 'N') IS NOT DISTINCT FROM 'A' OR l_linestatus = 'O')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "filter_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type
        |FROM part
        |WHERE p_type LIKE 'ECO%' OR regexp_matches(p_name, 'widget$')
        |ORDER BY p_partkey""".stripMargin,

    "project_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS disc_price,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        |  CASE WHEN l_returnflag = 'A' THEN 'returned'
        |       WHEN l_returnflag = 'N' THEN 'ok'
        |       ELSE 'other' END AS flag_desc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // ===== §2.3 joins =====
    "join_inner_hash" ->
      """SELECT o_orderkey, l_linenumber, o_custkey, l_quantity, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,

    "join_broadcast" ->
      s"""SELECT r_name, n_name, count(*) AS n_cust, ${msum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_outer_left" ->
      """SELECT o_orderkey, o_orderpriority, count(l_orderkey) AS n_big
        |FROM orders LEFT JOIN lineitem
        |  ON l_orderkey = o_orderkey AND l_quantity > 45
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,

    "join_outer_full" ->
      """WITH o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
        |       WHEN c_custkey IS NOT NULL THEN 'left_only'
        |       ELSE 'right_only' END AS side
        |FROM customer FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "join_theta_range" ->
      """SELECT e1.event_id AS id1, e2.event_id AS id2, e1.user_id AS user_id,
        |  epoch_ms(e2.ts) - epoch_ms(e1.ts) AS delta_ms
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND epoch_ms(e2.ts) > epoch_ms(e1.ts)
        | AND epoch_ms(e2.ts) <= epoch_ms(e1.ts) + 3600000
        |ORDER BY id1, id2""".stripMargin,

    "join_skew_salted" ->
      """WITH dim(flag, flag_desc) AS (
        |  VALUES ('A', 'returned'), ('N', 'ok'), ('R', 'refunded'))
        |SELECT l_returnflag AS flag, flag_desc, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN dim ON l_returnflag = dim.flag
        |GROUP BY 1, 2 ORDER BY flag""".stripMargin,

    "win_running_distinct" ->
      """WITH li AS (
        |  SELECT l_suppkey, l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CASE WHEN row_number() OVER (PARTITION BY l_suppkey, l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM lineitem)
        |SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
        |  CAST(sum(first_seen) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey) AS BIGINT)
        |    AS distinct_parts_so_far
        |FROM li WHERE l_suppkey <= 20
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey,
        |  distinct_parts_so_far""".stripMargin,

    "agg_median_mode" ->
      """WITH med AS (
        |  SELECT o_orderpriority,
        |    round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |mode_t AS (
        |  SELECT o_orderpriority, o_orderstatus AS mode_status, c AS mode_n FROM (
        |    SELECT o_orderpriority, o_orderstatus, count(*) AS c,
        |      row_number() OVER (PARTITION BY o_orderpriority
        |        ORDER BY count(*) DESC, o_orderstatus) AS rn
        |    FROM orders GROUP BY 1, 2) t
        |  WHERE rn = 1)
        |SELECT med.o_orderpriority, median_price, n, mode_status, mode_n
        |FROM med JOIN mode_t ON med.o_orderpriority = mode_t.o_orderpriority
        |ORDER BY med.o_orderpriority""".stripMargin,

    "src_csv" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal, c_mktsegment
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    // the Spark side round-trips supplier through JSON scratch first; a
    // lossless round-trip must hash-match the original parquet
    "src_json" ->
      """SELECT s_suppkey, s_name, n_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    // same pristine-parquet oracle as src_json: the ORC round-trip is
    // DEFINED lossless for these types, so both must hash identically
    "src_orc" ->
      """SELECT s_suppkey, s_name, n_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    "join_theta_rule" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS t FROM events)
        |SELECT a.t // 3600000 AS hour, count(*) AS n_pairs,
        |  CAST(sum(b.t - a.t) AS BIGINT) AS sum_delta_ms
        |FROM e a JOIN e b ON b.t > a.t AND b.t <= a.t + 600000
        |GROUP BY 1 ORDER BY hour""".stripMargin,

    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "join_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |clicks AS (
        |  SELECT user_id, ts_ms, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts_ms
        |  FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts_ms AS purchase_ts_ms,
        |  c.click_id, c.ts_ms AS click_ts_ms, p.ts_ms - c.ts_ms AS gap_ms
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts_ms <= p.ts_ms
        |ORDER BY purchase_id""".stripMargin,

    "join_asof_near" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |clicks AS (
        |  SELECT user_id, ts_ms, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts_ms
        |  FROM e WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT p.purchase_id, p.user_id, p.ts_ms,
        |    c.click_id AS b_id, c.ts_ms AS b_ts
        |  FROM purchases p ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND c.ts_ms <= p.ts_ms),
        |f AS (
        |  SELECT p.purchase_id, c.click_id AS f_id, c.ts_ms AS f_ts
        |  FROM purchases p ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND c.ts_ms >= p.ts_ms)
        |SELECT b.purchase_id, b.user_id, b.ts_ms AS purchase_ts_ms,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR b.ts_ms - b_ts <= f_ts - b.ts_ms)
        |       THEN b_id ELSE f_id END AS click_id,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR b.ts_ms - b_ts <= f_ts - b.ts_ms)
        |       THEN b_ts ELSE f_ts END AS click_ts_ms,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR b.ts_ms - b_ts <= f_ts - b.ts_ms)
        |       THEN b.ts_ms - b_ts ELSE f_ts - b.ts_ms END AS gap_ms,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR b.ts_ms - b_ts <= f_ts - b.ts_ms)
        |       THEN 'b' WHEN f_ts IS NOT NULL THEN 'f' END AS dir
        |FROM b JOIN f USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,

    "join_asof_fwd" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |clicks AS (
        |  SELECT user_id, ts_ms, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts_ms
        |  FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts_ms AS purchase_ts_ms,
        |  c.click_id, c.ts_ms AS click_ts_ms, c.ts_ms - p.ts_ms AS gap_ms
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts_ms >= p.ts_ms
        |ORDER BY purchase_id""".stripMargin,

    // identical semantics through the custom physical operator — same oracle
    "join_asof_exec" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |clicks AS (
        |  SELECT user_id, ts_ms, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts_ms
        |  FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts_ms AS purchase_ts_ms,
        |  c.click_id, c.ts_ms AS click_ts_ms, p.ts_ms - c.ts_ms AS gap_ms
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts_ms <= p.ts_ms
        |ORDER BY purchase_id""".stripMargin,

    "agg_topk_group" ->
      """SELECT c_mktsegment, rnk, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,

    // ===== §2.4 aggregations =====
    "agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  ${msum("l_extendedprice")} AS sum_base_price,
         |  ${msum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${msum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  ${msum("l_extendedprice")} / count(*) AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_rollup" ->
      s"""SELECT grouping(n_name, c_mktsegment) AS gid,
         |  coalesce(n_name, '(all)') AS nation,
         |  coalesce(c_mktsegment, '(all)') AS segment,
         |  count(*) AS n, ${msum("c_acctbal")} AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP (n_name, c_mktsegment)
         |ORDER BY gid, nation, segment""".stripMargin,

    "agg_cube" ->
      """SELECT grouping(l_returnflag, l_linestatus) AS gid,
        |  coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT grouping(n_name) AS g_nation, grouping(c_mktsegment) AS g_seg,
        |  coalesce(n_name, '(all)') AS nation,
        |  coalesce(c_mktsegment, '(all)') AS segment,
        |  count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |ORDER BY g_nation, g_seg, nation, segment""".stripMargin,

    "agg_filtered" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT))
        |       FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) / 10000.0 AS urgent_total,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_stats" ->
      """SELECT o_orderstatus,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  round(stddev_samp(o_totalprice), 4) AS sd_price,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_extendedprice / 1000.0, l_quantity), 4) AS corr_pq,
        |  round(covar_samp(l_extendedprice / 1000.0, l_quantity), 4) AS covar_pq,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_listagg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "agg_collect_set" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "win_percent_cume" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,

    "join_exists_subquery" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        |ORDER BY s_suppkey""".stripMargin,

    "scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice >
        |  (SELECT CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
        |     / 10000.0 / count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    // ===== §2.5 windows / sorts / set ops =====
    "win_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
        |    rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "win_lag_lead" ->
      """SELECT user_id, event_id, ts_ms,
        |  ts_ms - lag(ts_ms, 1) OVER w AS delta_ms,
        |  lead(value, 1) OVER w AS next_value
        |FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "win_frame_rows" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(l_shipdate AS DATE) AS ship_date,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber""".stripMargin,

    "win_frame_range" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_n,
        |    sum(CAST(round(o_totalprice * 10000) AS BIGINT)) AS scaled_total
        |  FROM orders GROUP BY 1)
        |SELECT day_n,
        |  CAST(scaled_total AS DOUBLE) / 10000.0 AS day_total,
        |  CAST(sum(scaled_total) OVER w AS DOUBLE) / 10000.0 AS mov_total,
        |  count(*) OVER w AS n_days
        |FROM daily
        |WINDOW w AS (ORDER BY day_n RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day_n""".stripMargin,

    "win_ntile_firstlast" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  ntile(4) OVER w AS quartile,
        |  first_value(c_name) OVER wf AS richest,
        |  last_value(c_name) OVER wf AS poorest
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey),
        |  wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin,

    "sort_multikey" ->
      """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg_or_null, c_acctbal
        |FROM customer
        |ORDER BY seg_or_null DESC NULLS LAST, c_acctbal DESC, c_custkey""".stripMargin,

    "topk_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "set_union_all" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'A' AS src FROM lineitem WHERE l_returnflag = 'A'
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'B' AS src FROM lineitem WHERE l_linestatus = 'O') t
        |ORDER BY l_orderkey, l_linenumber, src""".stripMargin,

    "set_union_distinct" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY c_custkey""".stripMargin,

    "set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,

    "set_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,

    "win_forecast_backtest" ->
      ("""WITH RECURSIVE daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
        |    """ + "CAST(sum(CAST(round((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0" + """ AS v
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT user_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS i
        |  FROM daily),
        |rec(user_id, i, l, t) AS (
        |  SELECT user_id, i, v, CAST(0.0 AS DOUBLE)
        |  FROM ranked WHERE i = 1
        |  UNION ALL
        |  SELECT r.user_id, d.i,
        |    0.5 * d.v + 0.5 * (r.l + r.t),
        |    0.5 * ((0.5 * d.v + 0.5 * (r.l + r.t)) - r.l) + 0.5 * r.t
        |  FROM rec r JOIN ranked d
        |    ON d.user_id = r.user_id AND d.i = r.i + 1),
        |err AS (
        |  SELECT
        |    CAST(floor(abs(d.v - (r.l + r.t)) * 1.0e6 + 0.5) AS BIGINT)
        |      AS errq,
        |    CASE WHEN abs(d.v) > 0 THEN
        |      CAST(floor(abs(d.v - (r.l + r.t)) / abs(d.v) * 1.0e6 + 0.5)
        |        AS BIGINT) END AS apeq
        |  FROM rec r JOIN ranked d
        |    ON d.user_id = r.user_id AND d.i = r.i + 1)
        |SELECT count(*) AS n_forecasts,
        |  floor(CAST(CAST(sum(errq) AS BIGINT) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 1.0e6) * 10000.0 + 0.5)
        |    / 10000.0 AS mae,
        |  floor(CAST(CAST(sum(apeq) AS BIGINT) AS DOUBLE) /
        |    (CAST(count(apeq) AS DOUBLE) * 1.0e6) * 100.0 * 10000.0
        |    + 0.5) / 10000.0 AS mape_pct
        |FROM err""").stripMargin,

    "agg_target_encode_loo" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, count(*) AS n, CAST(sum(x) AS BIGINT)
        |      AS s
        |  FROM r GROUP BY 1),
        |e AS (
        |  SELECT r.l_returnflag, n, s,
        |    CAST(floor(CAST(s - x AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |      + 0.5) AS BIGINT) AS encq
        |  FROM r JOIN g ON r.l_returnflag = g.l_returnflag),
        |a AS (
        |  SELECT l_returnflag, max(n) AS n, max(s) AS s,
        |    CAST(sum(encq) AS BIGINT) AS se,
        |    CAST(sum(encq * encq) AS BIGINT) AS sq
        |  FROM e GROUP BY 1)
        |SELECT l_returnflag, n,
        |  floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 * 10000.0
        |    + 0.5) / 10000.0 AS mean_price,
        |  floor((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) -
        |    (CAST(se AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (CAST(se AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0
        |    * 10000.0 + 0.5) / 10000.0 AS enc_variance
        |FROM a ORDER BY l_returnflag""".stripMargin,

    "agg_skew_report" ->
      """WITH keys AS (
        |  SELECT 'l_partkey' AS col, l_partkey AS k FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
        |  UNION ALL SELECT 'o_custkey', o_custkey FROM orders),
        |pk AS (SELECT col, k, count(*) AS c FROM keys GROUP BY 1, 2),
        |ff AS (SELECT col, c, count(*) AS m FROM pk GROUP BY 1, 2),
        |cum AS (
        |  SELECT col, c, m,
        |    CAST(sum(m) OVER (PARTITION BY col ORDER BY c) AS BIGINT)
        |      AS cum,
        |    CAST(sum(m) OVER (PARTITION BY col) AS BIGINT) AS nk,
        |    CAST(sum(c * m) OVER (PARTITION BY col) AS BIGINT) AS rows_
        |  FROM ff),
        |med AS (SELECT col, min(c) AS med_c FROM cum
        |  WHERE cum >= (nk + 1) // 2 GROUP BY 1),
        |p99 AS (SELECT col, min(c) AS p99_c FROM cum
        |  WHERE cum >= (99 * nk + 99) // 100 GROUP BY 1),
        |s AS (
        |  SELECT col, max(nk) AS n_keys, max(rows_) AS n_rows,
        |    max(c) AS max_c
        |  FROM cum GROUP BY 1)
        |SELECT s.col, n_keys, n_rows, CAST(max_c AS BIGINT) AS max_c,
        |  floor(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS max_share,
        |  CAST(med_c AS BIGINT) AS med_c, CAST(p99_c AS BIGINT) AS p99_c,
        |  floor(CAST(p99_c AS DOUBLE) / CAST(med_c AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS p99_over_med
        |FROM s JOIN med ON s.col = med.col JOIN p99 ON s.col = p99.col
        |ORDER BY s.col""".stripMargin,

    "set_intersect_all" ->
      """SELECT o_custkey FROM orders
        |WHERE epoch_ms(o_orderdate) < 883612800000
        |INTERSECT ALL
        |SELECT o_custkey FROM orders
        |WHERE epoch_ms(o_orderdate) >= 883612800000
        |ORDER BY o_custkey""".stripMargin,

    "set_except_all" ->
      """SELECT o_custkey FROM orders
        |WHERE epoch_ms(o_orderdate) < 883612800000
        |EXCEPT ALL
        |SELECT o_custkey FROM orders
        |WHERE epoch_ms(o_orderdate) >= 883612800000
        |ORDER BY o_custkey""".stripMargin,

    "agg_cms_estimate" ->
      """WITH ev AS (SELECT event_type FROM events),
        |cells AS (
        |  SELECT i,
        |    CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
        |      event_type), 1, 8) AS BIGINT) % 64 AS bucket,
        |    count(*) AS c
        |  FROM ev, UNNEST(range(0, 4)) AS u(i)
        |  GROUP BY 1, 2),
        |kb AS (
        |  SELECT event_type, i,
        |    CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
        |      event_type), 1, 8) AS BIGINT) % 64 AS bucket
        |  FROM (SELECT DISTINCT event_type FROM ev) k,
        |    UNNEST(range(0, 4)) AS u(i)),
        |est AS (
        |  SELECT event_type, CAST(min(c) AS BIGINT) AS cms_est
        |  FROM kb JOIN cells ON kb.i = cells.i AND kb.bucket = cells.bucket
        |  GROUP BY 1),
        |ex AS (SELECT event_type, count(*) AS exact FROM ev GROUP BY 1)
        |SELECT ex.event_type, exact, cms_est,
        |  CAST(cms_est - exact AS BIGINT) AS overcount
        |FROM ex JOIN est ON ex.event_type = est.event_type
        |ORDER BY ex.event_type""".stripMargin,

    "agg_power_analysis" ->
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS s,
        |    CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS sd,
        |    CAST(sum(CAST(round(o_totalprice) AS BIGINT) *
        |      CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS qd
        |  FROM orders),
        |t AS (
        |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |    (CAST(qd AS DOUBLE) / CAST(n AS DOUBLE) -
        |      (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) * 10000.0
        |      AS var_c
        |  FROM s)
        |SELECT n AS n_orders,
        |  floor(mean_c / 100.0 * 10000.0 + 0.5) / 10000.0 AS mean_price,
        |  floor(sqrt(var_c) / 100.0 * 10000.0 + 0.5) / 10000.0
        |    AS sd_price,
        |  CAST(2.0 AS DOUBLE) AS mde_pct,
        |  CAST(ceil(16.0 * var_c /
        |    ((0.02 * mean_c) * (0.02 * mean_c))) AS BIGINT) AS n_per_arm
        |FROM t""".stripMargin,

    "agg_anova" ->
      """WITH r AS (
        |  SELECT (epoch_ms(o_orderdate) // 86400000) % 7 AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |grp AS (
        |  SELECT g, count(*) AS ng, CAST(sum(v) AS BIGINT) AS sg,
        |    CAST(sum(v * v) AS BIGINT) AS qg
        |  FROM r GROUP BY 1),
        |tot AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s
        |  FROM r),
        |terms AS (
        |  SELECT g, n,
        |    CAST(ng AS DOUBLE) *
        |      (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) -
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) -
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssb,
        |    CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) *
        |      CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS ssw
        |  FROM grp, tot),
        |folded AS (
        |  SELECT n, count(*) AS k,
        |    list_sort(list({'g': g, 'ssb': ssb, 'ssw': ssw})) AS arr
        |  FROM terms GROUP BY n)
        |SELECT n, k,
        |  floor((list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.ssb)), (acc, x) -> acc + x) /
        |      CAST(k - 1 AS DOUBLE)) /
        |    (list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(arr, x -> x.ssw)), (acc, x) -> acc + x) /
        |      CAST(n - k AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
        |    AS f_stat
        |FROM folded""".stripMargin,

    "win_hampel" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, d, v,
        |    list_sort(list(v) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM daily),
        |m AS (
        |  SELECT event_type, d, v, arr,
        |    arr[(len(arr) + 1) // 2] AS med
        |  FROM f),
        |h AS (
        |  SELECT event_type, d, v, med,
        |    list_sort(list_transform(arr, x -> abs(x - med)))
        |      [(len(arr) + 1) // 2] AS mad
        |  FROM m)
        |SELECT event_type, d,
        |  CAST(v AS DOUBLE) / 10000.0 AS value,
        |  CAST(med AS DOUBLE) / 10000.0 AS med7,
        |  CAST(mad AS DOUBLE) / 10000.0 AS mad7,
        |  abs(v - med) > mad * 3 AS is_outlier
        |FROM h ORDER BY event_type, d""".stripMargin,

    "agg_hill_tail" ->
      """WITH top AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders ORDER BY v DESC LIMIT 101),
        |xk AS (SELECT min(v) AS xk FROM top),
        |t AS (
        |  SELECT CAST(floor(ln(CAST(v AS DOUBLE) / CAST(xk AS DOUBLE))
        |    * 1.0e9 + 0.5) AS BIGINT) AS t, xk
        |  FROM top, xk)
        |SELECT CAST(100 AS BIGINT) AS k,
        |  CAST(xk AS DOUBLE) / 100.0 AS threshold_price,
        |  CASE WHEN sum(t) > 0 THEN
        |    floor(100.0 / (CAST(CAST(sum(t) AS BIGINT) AS DOUBLE)
        |      / 1.0e9) * 10000.0 + 0.5) / 10000.0
        |  END AS alpha
        |FROM t GROUP BY xk""".stripMargin,

    "agg_runs_test" ->
      """WITH daily AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |dl AS (
        |  SELECT d, v - lag(v, 1) OVER (ORDER BY d) AS delta FROM daily),
        |sg AS (
        |  SELECT d, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sgn
        |  FROM dl WHERE delta IS NOT NULL AND delta <> 0),
        |pv AS (
        |  SELECT sgn, lag(sgn, 1) OVER (ORDER BY d) AS prev FROM sg),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down,
        |    CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM pv)
        |SELECT n_up, n_down, n_runs,
        |  CASE WHEN n_up > 0 AND n_down > 0 AND n_up + n_down > 1 THEN
        |    floor((CAST(n_runs AS DOUBLE) -
        |      (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) /
        |        (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) + 1.0)) /
        |      sqrt((2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) *
        |        (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) -
        |          CAST(n_up AS DOUBLE) - CAST(n_down AS DOUBLE))) /
        |        ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) *
        |          (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) *
        |          (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE) - 1.0)))
        |      * 10000.0 + 0.5) / 10000.0
        |  END AS z_stat
        |FROM agg""".stripMargin,

    "win_macd" ->
      """WITH daily AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS d,
        |    CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |f AS (
        |  SELECT d,
        |    list(x) OVER (ORDER BY d ROWS BETWEEN 11 PRECEDING
        |      AND CURRENT ROW) AS v12,
        |    list(x) OVER (ORDER BY d ROWS BETWEEN 25 PRECEDING
        |      AND CURRENT ROW) AS v26
        |  FROM daily),
        |m AS (
        |  SELECT d,
        |    list_reduce(v12, (acc, x) -> acc * 11.0 / 13.0
        |      + x * 2.0 / 13.0) -
        |    list_reduce(v26, (acc, x) -> acc * 25.0 / 27.0
        |      + x * 2.0 / 27.0) AS macd
        |  FROM f),
        |sg AS (
        |  SELECT d, macd,
        |    list(macd) OVER (ORDER BY d ROWS BETWEEN 8 PRECEDING
        |      AND CURRENT ROW) AS vm
        |  FROM m)
        |SELECT d, macd,
        |  list_reduce(vm, (acc, x) -> acc * 8.0 / 10.0 + x * 2.0 / 10.0)
        |    AS signal,
        |  macd - list_reduce(vm, (acc, x) -> acc * 8.0 / 10.0
        |    + x * 2.0 / 10.0) AS histogram
        |FROM sg ORDER BY d""".stripMargin,

    "agg_abc_analysis" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM rev),
        |c AS (
        |  SELECT rev,
        |    CAST(coalesce(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cprev
        |  FROM rev),
        |cls AS (
        |  SELECT rev,
        |    CASE WHEN cprev * 100 < tot * 80 THEN 'A'
        |      WHEN cprev * 100 < tot * 95 THEN 'B'
        |      ELSE 'C' END AS cls, tot
        |  FROM c, tot)
        |SELECT cls, count(*) AS n_parts,
        |  floor(CAST(CAST(sum(rev) AS BIGINT) AS DOUBLE) /
        |    CAST(max(tot) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS rev_share
        |FROM cls GROUP BY cls ORDER BY cls""".stripMargin,

    "agg_price_elasticity" ->
      """WITH per AS (
        |  SELECT p_brand,
        |    CAST(floor(ln(CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE))
        |      * 1.0e5 + 0.5) AS BIGINT) AS xq,
        |    CAST(floor(ln(CAST(qty AS DOUBLE)) * 1.0e5 + 0.5) AS BIGINT)
        |      AS yq
        |  FROM (
        |    SELECT p_brand, l_partkey,
        |      CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |        AS qty,
        |      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |        AS BIGINT) AS cents
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    GROUP BY 1, 2) t),
        |s AS (
        |  SELECT p_brand, count(*) AS n, CAST(sum(xq) AS BIGINT) AS sx,
        |    CAST(sum(yq) AS BIGINT) AS sy,
        |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
        |    CAST(sum(xq * xq) AS BIGINT) AS sxx
        |  FROM per GROUP BY 1)
        |SELECT p_brand, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 10000.0 + 0.5)
        |      / 10000.0
        |  END AS elasticity
        |FROM s ORDER BY p_brand""".stripMargin,

    "src_text_lines" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
        |  count(*) AS n_name_match,
        |  CAST(sum(CAST(round(s_acctbal * 10000) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS acctbal_sum
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_ks_test" ->
      """WITH r AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    epoch_ms(o_orderdate) < 883612800000 AS isa
        |  FROM orders),
        |pts AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM r GROUP BY 1),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
        |  FROM pts),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM r),
        |d AS (
        |  SELECT na, nb, abs(cuma * nb - cumb * na) AS diff, v,
        |    row_number() OVER (ORDER BY abs(cuma * nb - cumb * na) DESC,
        |      v) AS rn
        |  FROM cum, tot)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(v AS DOUBLE) / 100.0 AS at_price,
        |  floor(CAST(diff AS DOUBLE) / CAST(na * nb AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS d_stat,
        |  floor(1.358 * sqrt(CAST(na + nb AS DOUBLE) /
        |    CAST(na * nb AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS d_crit
        |FROM d WHERE rn = 1""".stripMargin,

    "agg_psi" ->
      """WITH r AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    epoch_ms(o_orderdate) < 883612800000 AS isref
        |  FROM orders),
        |mm AS (SELECT min(v) AS vmin, max(v) AS vmax FROM r),
        |b AS (
        |  SELECT least(9, ((v - vmin) * 10) // (vmax - vmin + 1))
        |      AS bucket,
        |    CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN isref THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_cur
        |  FROM r, mm GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tr,
        |    CAST(sum(CASE WHEN isref THEN 0 ELSE 1 END) AS BIGINT) AS tc
        |  FROM r),
        |terms AS (
        |  SELECT bucket, n_ref, n_cur,
        |    greatest(CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 1.0e-4)
        |      AS pr,
        |    greatest(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 1.0e-4)
        |      AS pc
        |  FROM b, tot),
        |q AS (
        |  SELECT bucket, n_ref, n_cur, pr, pc,
        |    CAST(floor((pc - pr) * ln(pc / pr) * 1.0e9 + 0.5) AS BIGINT)
        |      AS tq
        |  FROM terms),
        |t AS (SELECT CAST(sum(tq) AS BIGINT) AS tpsi FROM q)
        |SELECT bucket, n_ref, n_cur,
        |  floor(pr * 10000.0 + 0.5) / 10000.0 AS p_ref,
        |  floor(pc * 10000.0 + 0.5) / 10000.0 AS p_cur,
        |  CAST(tq AS DOUBLE) / 1.0e9 AS psi_term,
        |  CAST(tpsi AS DOUBLE) / 1.0e9 AS psi_total
        |FROM q, t ORDER BY bucket""".stripMargin,

    "agg_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type, (epoch_ms(ts) // 86400000) % 7 AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |dims AS (
        |  SELECT count(DISTINCT event_type) AS r,
        |    count(DISTINCT dow) AS c, CAST(sum(o) AS BIGINT) AS n
        |  FROM cells),
        |t AS (
        |  SELECT r, c, n,
        |    CAST(sum(CAST(floor((o - e) * (o - e) / e * 1.0e9 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS chiq
        |  FROM (
        |    SELECT cells.o, r, c, n,
        |      CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
        |        AS e
        |    FROM cells
        |    JOIN rt ON cells.event_type = rt.event_type
        |    JOIN ct ON cells.dow = ct.dow, dims) x
        |  GROUP BY 1, 2, 3)
        |SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        |  floor(CAST(chiq AS DOUBLE) / 1.0e9 * 10000.0 + 0.5) / 10000.0
        |    AS chi2,
        |  floor(sqrt(CAST(chiq AS DOUBLE) / 1.0e9 / (CAST(n AS DOUBLE) *
        |    CAST(least(r - 1, c - 1) AS DOUBLE))) * 10000.0 + 0.5)
        |    / 10000.0 AS cramers_v
        |FROM t""".stripMargin,

    "agg_kendall_tau" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT a.x - b.x AS dx, a.y - b.y AS dy
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |agg AS (
        |  SELECT count(*) AS n0,
        |    CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS concordant,
        |    CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS discordant,
        |    CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_x,
        |    CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_y
        |  FROM p)
        |SELECT n0, concordant, discordant, ties_x, ties_y,
        |  CASE WHEN (n0 - ties_x) * (n0 - ties_y) > 0 THEN
        |    floor(CAST(concordant - discordant AS DOUBLE) /
        |      sqrt(CAST(n0 - ties_x AS DOUBLE) *
        |        CAST(n0 - ties_y AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
        |  END AS tau_b
        |FROM agg""".stripMargin,

    "win_rolling_corr" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT d,
        |    count(*) OVER fr AS nw,
        |    CAST(sum(x) OVER fr AS BIGINT) AS sx,
        |    CAST(sum(y) OVER fr AS BIGINT) AS sy,
        |    CAST(sum(x * x) OVER fr AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER fr AS BIGINT) AS syy,
        |    CAST(sum(x * y) OVER fr AS BIGINT) AS sxy
        |  FROM daily
        |  WINDOW fr AS (ORDER BY d ROWS BETWEEN 6 PRECEDING
        |    AND CURRENT ROW))
        |SELECT d, CAST(nw AS BIGINT) AS n_win,
        |  CASE WHEN (nw * sxx - sx * sx) > 0 AND (nw * syy - sy * sy) > 0
        |  THEN floor(CAST(nw * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(nw * sxx - sx * sx AS DOUBLE) *
        |      CAST(nw * syy - sy * sy AS DOUBLE)) * 10000.0 + 0.5)
        |    / 10000.0
        |  END AS corr_7d
        |FROM w ORDER BY d""".stripMargin,

    "win_vwap" ->
      """WITH daily AS (
        |  SELECT epoch_ms(l_shipdate) // 86400000 AS d,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS vol,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS notional
        |  FROM lineitem GROUP BY 1)
        |SELECT d, vol AS day_vol,
        |  CAST(sum(vol) OVER (ORDER BY d) AS BIGINT) AS cum_vol,
        |  floor(CAST(sum(notional) OVER (ORDER BY d) AS DOUBLE) /
        |    CAST(sum(vol) OVER (ORDER BY d) AS DOUBLE) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS vwap
        |FROM daily ORDER BY d""".stripMargin,

    "win_rsi" ->
      """WITH daily AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |dl AS (
        |  SELECT d, v - lag(v, 1) OVER (ORDER BY d) AS delta
        |  FROM daily),
        |gl AS (
        |  SELECT d, delta,
        |    greatest(delta, 0) AS gain, greatest(-delta, 0) AS loss
        |  FROM dl),
        |w AS (
        |  SELECT d,
        |    count(delta) OVER fr AS nw,
        |    CAST(sum(gain) OVER fr AS BIGINT) AS sg,
        |    CAST(sum(loss) OVER fr AS BIGINT) AS sl
        |  FROM gl
        |  WINDOW fr AS (ORDER BY d ROWS BETWEEN 13 PRECEDING
        |    AND CURRENT ROW))
        |SELECT d,
        |  CASE WHEN sg + sl > 0 THEN
        |    floor(100.0 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0
        |  END AS rsi_14
        |FROM w WHERE nw = 14 ORDER BY d""".stripMargin,

    "agg_assoc_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT count(DISTINCT user_id) AS nu FROM baskets),
        |item AS (SELECT event_type, count(*) AS ni
        |  FROM baskets GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS ante, b.event_type AS cons,
        |    count(*) AS n_both
        |  FROM baskets a JOIN baskets b ON a.user_id = b.user_id
        |    AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT ante, cons, CAST(n_both AS BIGINT) AS n_both,
        |  floor(CAST(n_both AS DOUBLE) / CAST(nu AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS support,
        |  floor(CAST(n_both AS DOUBLE) / CAST(ia.ni AS DOUBLE) * 10000.0
        |    + 0.5) / 10000.0 AS confidence,
        |  floor(CAST(n_both AS DOUBLE) * CAST(nu AS DOUBLE) /
        |    (CAST(ia.ni AS DOUBLE) * CAST(ic.ni AS DOUBLE)) * 10000.0
        |    + 0.5) / 10000.0 AS lift
        |FROM pairs
        |JOIN item ia ON pairs.ante = ia.event_type
        |JOIN item ic ON pairs.cons = ic.event_type, nu
        |ORDER BY ante, cons""".stripMargin
  )
}
