package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables
import graft.util.Det
import graft.util.Det.dsumSql

/** Composite analytics queries (TPC-H-shaped): multi-way joins +
  * aggregation + top-k in one plan, exercising Catalyst's join
  * reordering, broadcast selection, and subquery decorrelation the way
  * a real workload does — not one operator at a time.
  */
object Composite {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val defs: Map[String, QueryDef] = Map(
    // TPC-H Q5-shaped: revenue by nation through a 5-way join. Dims
    // broadcast; the two fact tables meet in one shuffled join.
    "q66_tpch_q5ish" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .filter(o("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && o("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .groupBy("r_name", "n_name")
          .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name,
        ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // TPC-H Q3-shaped: top-10 unshipped-revenue orders for one segment.
    "q67_tpch_q3ish" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING")
          .join(o, col("c_custkey") === o("o_custkey"))
          .join(li, o("o_orderkey") === li("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
          .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
      ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // scalar + IN subqueries (Catalyst decorrelates both).
    "q68_subquery" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("q68_orders")
        t(s, dir, "customer").createOrReplaceTempView("q68_customer")
        s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n_above_avg
          FROM q68_orders
          WHERE o_totalprice > (SELECT ${Det.davgSql("o_totalprice")} FROM q68_orders)
            AND o_custkey IN (SELECT c_custkey FROM q68_customer
                              WHERE c_mktsegment = 'MACHINERY')
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_above_avg
      FROM orders
      WHERE o_totalprice > (SELECT ${Det.davgSql("o_totalprice")} FROM orders)
        AND o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'MACHINERY')
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))
  )
}
