package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QueryDef
import graft.functions.Udafs
import graft.sources.{Events, Tables}
import graft.util.Det.dsumSql

/** Completeness batch 2 — SURVEY.md §2.2 rows not covered by the core
  * catalogs: right join, cube / grouping sets, EXCEPT ALL / UNION
  * DISTINCT, in-memory + csv + json sources, map functions over JSON,
  * custom typed-Aggregator UDAF, arg-max aggregation.
  */
object Extra {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val defs: Map[String, QueryDef] = Map(
    "q52_join_right" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey") && li("l_quantity") > 45, "right")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"), count(li("l_orderkey")).as("n_matched"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_matched
      FROM lineitem RIGHT JOIN orders
        ON l_orderkey = o_orderkey AND l_quantity > 45
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    "q53_agg_cube" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders").select("o_orderstatus", "o_orderpriority", "o_totalprice")
          .createOrReplaceTempView("q53_src")
        s.sql(s"""SELECT COALESCE(o_orderstatus, '~ALL') AS status,
            COALESCE(o_orderpriority, '~ALL') AS priority,
            COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
          FROM q53_src GROUP BY CUBE(o_orderstatus, o_orderpriority)
          ORDER BY 1, 2""")
      },
      Some(s"""SELECT COALESCE(o_orderstatus, '~ALL') AS status,
        COALESCE(o_orderpriority, '~ALL') AS priority,
        COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY 1, 2""")),

    "q54_agg_grouping_sets" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").select("c_mktsegment", "c_nationkey", "c_acctbal")
          .createOrReplaceTempView("q54_src")
        s.sql(s"""SELECT COALESCE(c_mktsegment, '~ALL') AS seg,
            COALESCE(CAST(c_nationkey AS STRING), '~ALL') AS nat,
            COUNT(*) AS n, ${dsumSql("c_acctbal")} AS bal
          FROM q54_src
          GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
          ORDER BY 1, 2""")
      },
      Some(s"""SELECT COALESCE(c_mktsegment, '~ALL') AS seg,
        COALESCE(CAST(c_nationkey AS VARCHAR), '~ALL') AS nat,
        COUNT(*) AS n, ${dsumSql("c_acctbal")} AS bal
      FROM customer
      GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      ORDER BY 1, 2""")),

    "q55_set_except_all" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .exceptAll(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, COUNT(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      GROUP BY o_custkey ORDER BY o_custkey""")),

    "q56_set_union_distinct" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.filter(col("o_orderstatus") === "P").select("o_custkey")
          .union(o.filter(col("o_totalprice") > 250000).select("o_custkey"))
          .distinct()
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
      UNION
      SELECT o_custkey FROM orders WHERE o_totalprice > 250000
      ORDER BY o_custkey""")),

    "q57_src_values" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", 3.5))
          .toDF("id", "name", "score")
          .withColumn("scaled", col("score") * 10.0)
          .orderBy("id")
      },
      Some("""SELECT CAST(id AS BIGINT) AS id, name,
        CAST(score AS DOUBLE) AS score, CAST(score AS DOUBLE) * 10.0 AS scaled
      FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 3.5))
        AS t(id, name, score)
      ORDER BY id""")),

    // csv / json ingest: round-trip a dim table through the format with an
    // explicit schema — values must survive exactly.
    "q58_src_csv_roundtrip" -> QueryDef(
      (s, dir) => {
        val tmp = graft.util.Scratch.dir("graft_csv")
        t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long"))
          .write.mode("overwrite").option("header", "true").csv(tmp)
        s.read.option("header", "true")
          .schema(StructType(Seq(
            StructField("n_nationkey", LongType),
            StructField("n_name", StringType),
            StructField("n_regionkey", LongType))))
          .csv(tmp)
          .orderBy("n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation ORDER BY n_nationkey""")),

    "q59_src_json_roundtrip" -> QueryDef(
      (s, dir) => {
        val tmp = graft.util.Scratch.dir("graft_json")
        t(s, dir, "region")
          .select(col("r_regionkey").cast("long"), col("r_name"))
          .write.mode("overwrite").json(tmp)
        s.read
          .schema(StructType(Seq(
            StructField("r_regionkey", LongType),
            StructField("r_name", StringType))))
          .json(tmp)
          .orderBy("r_regionkey")
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
      FROM region ORDER BY r_regionkey""")),

    "q60_fn_map_json" -> QueryDef(
      (s, dir) => {
        val m = from_json(col("props"), MapType(StringType, StringType))
        Events.load(s, dir)
          .select(col("event_id"),
            concat_ws(",", map_keys(m)).as("keys"),
            size(map_keys(m)).cast("long").as("n_keys"),
            element_at(m, "k").as("k_val"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        array_to_string(json_keys(props), ',') AS keys,
        CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        json_extract_string(props, '$.k') AS k_val
      FROM events ORDER BY event_id""")),

    "q61_udaf_weighted_avg" -> QueryDef(
      (s, dir) => {
        val wavg = udaf(Udafs.WeightedAvg)
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
        ${dsumSql("l_extendedprice*l_quantity")} / ${dsumSql("l_quantity")} AS wavg_price,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    "q64_agg_pivot" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q65_win_distribution" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            first(col("c_custkey")).over(
              w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)).as("first_key"),
            last(col("c_custkey")).over(
              w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)).as("last_key"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume,
        first_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
        last_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_key
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey""")),

    "q62_agg_argmax" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
          max(col("o_totalprice")).as("top_price"))
        .orderBy("o_orderpriority"),
      Some("""WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        row_number() OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
      FROM orders)
      SELECT o_orderpriority,
        MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_order,
        MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_order,
        MAX(o_totalprice) AS top_price
      FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
  )
}
