package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.functions.VectorFunctions
import graft.sources.{Events, Tables}

/** Scalar-function coverage: string, date/time, math, array higher-order,
  * JSON, explode/generator — SURVEY.md §2.2. Cross-engine gotchas
  * handled per FIXTURES.md: trivial regexes only, isodow instead of
  * dayofweek, round(6) on libm-dependent fns (ln/exp), float→double
  * casts on array elements, BIGINT casts on every integral output.
  */
object Funcs {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val defs: Map[String, QueryDef] = Map(
    "q31_fn_string" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          length(col("c_name")).cast("long").as("name_len"),
          substring(col("c_name"), 1, 8).as("prefix"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
          concat_ws("-", col("c_mktsegment"), col("c_nationkey").cast("string")).as("seg_nat"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("name_num"),
          regexp_replace(col("c_name"), "Customer", "cust").as("renamed"),
          element_at(split(col("c_name"), "#"), 2).as("num_part"),
          trim(lower(col("c_mktsegment"))).as("seg_lc"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        upper(c_name) AS uname,
        CAST(length(c_name) AS BIGINT) AS name_len,
        substring(c_name, 1, 8) AS prefix,
        lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nat,
        CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
        regexp_replace(c_name, 'Customer', 'cust') AS renamed,
        string_split(c_name, '#')[2] AS num_part,
        trim(lower(c_mktsegment)) AS seg_lc
      FROM customer ORDER BY c_custkey""")),

    "q32_fn_datetime" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("od"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("dow_iso"),
          last_day(col("o_orderdate")).as("month_end"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        CAST(o_orderdate AS DATE) AS od,
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(month(o_orderdate) AS BIGINT) AS mo,
        CAST(day(o_orderdate) AS BIGINT) AS dom,
        CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        CAST(isodow(o_orderdate) AS BIGINT) AS dow_iso,
        last_day(CAST(o_orderdate AS DATE)) AS month_end,
        CAST(o_orderdate AS DATE) + 30 AS plus30,
        CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
      FROM orders ORDER BY o_orderkey""")),

    "q33_fn_math" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("lineno"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          round(log(col("l_extendedprice")), 6).as("price_ln"),
          round(exp(col("l_discount")), 6).as("disc_exp"),
          abs(col("l_discount") - lit(0.05)).as("disc_dev"),
          signum(col("l_discount") - lit(0.05)).cast("double").as("disc_sign"),
          floor(col("l_quantity")).cast("long").as("qty_floor"),
          ceil(col("l_quantity")).cast("long").as("qty_ceil"),
          pmod(col("l_orderkey"), lit(7)).cast("long").as("key_mod"))
        .orderBy("l_orderkey", "lineno"),
      Some("""SELECT l_orderkey,
        CAST(l_linenumber AS BIGINT) AS lineno,
        l_quantity * l_quantity AS qty_sq,
        sqrt(l_extendedprice) AS price_sqrt,
        round(ln(l_extendedprice), 6) AS price_ln,
        round(exp(l_discount), 6) AS disc_exp,
        abs(l_discount - 0.05) AS disc_dev,
        CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
        CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        CAST(l_orderkey % 7 AS BIGINT) AS key_mod
      FROM lineitem ORDER BY l_orderkey, lineno""")),

    "q34_fn_array_hof" -> QueryDef(
      (s, dir) => t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          round(VectorFunctions.norm(col("embedding")), 6).as("l2_norm"),
          round(VectorFunctions.elemMean(col("embedding")), 6).as("mean_val"),
          VectorFunctions.countAbove(col("embedding"), 0.0).cast("long").as("n_pos"),
          array_max(col("embedding")).cast("double").as("max_val"),
          element_at(col("embedding"), 1).cast("double").as("first_val"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
        CAST(len(embedding) AS BIGINT) AS n_dims,
        round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 6) AS l2_norm,
        round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))/len(embedding), 6) AS mean_val,
        CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        CAST(list_max(embedding) AS DOUBLE) AS max_val,
        CAST(embedding[1] AS DOUBLE) AS first_val
      FROM embeddings ORDER BY vec_id""")),

    "q35_fn_json" -> QueryDef(
      (s, dir) => Events.load(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"),
          (get_json_object(col("props"), "$.k").cast("long") * 2).as("k2"),
          get_json_object(col("props"), "$.missing").as("miss"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
        json_extract_string(props, '$.k') AS k_str,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k2,
        json_extract_string(props, '$.missing') AS miss
      FROM events ORDER BY event_id""")),

    "q71_fn_bitwise" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .select(col("c_custkey"),
          shiftleft(col("c_custkey"), 3).as("shl3"),
          shiftright(col("c_custkey"), 2).as("shr2"),
          col("c_custkey").bitwiseAND(lit(255L)).as("and255"),
          col("c_custkey").bitwiseOR(lit(4096L)).as("or4k"),
          col("c_custkey").bitwiseXOR(lit(1023L)).as("xor1k"),
          bit_count(col("c_custkey")).cast("long").as("popcount"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        c_custkey << 3 AS shl3,
        c_custkey >> 2 AS shr2,
        c_custkey & 255 AS and255,
        c_custkey | 4096 AS or4k,
        xor(c_custkey, 1023) AS xor1k,
        CAST(bit_count(c_custkey) AS BIGINT) AS popcount
      FROM customer ORDER BY c_custkey""")),

    "q72_fn_conditional" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("lineno"),
          greatest(col("l_quantity"), col("l_discount") * 100.0).as("g"),
          least(col("l_quantity"), col("l_tax") * 100.0).as("l"),
          when(col("l_returnflag") === "A", col("l_quantity"))
            .otherwise(lit(-1.0)).as("if_a"),
          coalesce(nullif(col("l_linestatus"), lit("F")), lit("fallback")).as("ifnull_demo"))
        .orderBy("l_orderkey", "lineno"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS lineno,
        greatest(l_quantity, l_discount * 100.0) AS g,
        least(l_quantity, l_tax * 100.0) AS l,
        CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE -1.0 END AS if_a,
        COALESCE(NULLIF(l_linestatus, 'F'), 'fallback') AS ifnull_demo
      FROM lineitem ORDER BY l_orderkey, lineno""")),

    "q73_agg_boolean" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(bool_and(col("o_totalprice") > 1000.0).cast("string").as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000.0).cast("string").as("any_over_400k"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
        CAST(bool_and(o_totalprice > 1000.0) AS VARCHAR) AS all_over_1k,
        CAST(bool_or(o_totalprice > 400000.0) AS VARCHAR) AS any_over_400k,
        COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q74_fn_struct" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .select(col("c_custkey"),
          struct(col("c_mktsegment").as("seg"), col("c_acctbal").as("bal")).as("s"))
        .select(col("c_custkey"),
          col("s.seg").as("seg"),
          (col("s.bal") * 2.0).as("bal2"))
        .orderBy("c_custkey"),
      Some("""WITH t AS (SELECT c_custkey,
        {'seg': c_mktsegment, 'bal': c_acctbal} AS s FROM customer)
      SELECT c_custkey, s.seg AS seg, s.bal * 2.0 AS bal2
      FROM t ORDER BY c_custkey""")),

    "q36_fn_explode" -> QueryDef(
      (s, dir) => t(s, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("val"))
        .orderBy("vec_id", "pos"),
      Some("""SELECT vec_id, CAST(i.p AS BIGINT) AS pos,
        CAST(embedding[i.p + 1] AS DOUBLE) AS val
      FROM embeddings, (SELECT unnest(range(0, 64)) AS p) i
      WHERE vec_id < 10 AND i.p < len(embedding)
      ORDER BY vec_id, pos"""))
  )
}
