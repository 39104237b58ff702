package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}

/** Tier-B set operations and the scalar function library
  * (SURVEY.md §2.B B12–B13).
  *
  * Set ops are expressed with the native operators (union/intersect/except →
  * Catalyst rewrites to hash-aggregate / semi / anti joins). Scalar functions
  * use `org.apache.spark.sql.functions._` exclusively — every expression here
  * is whole-stage-codegen'd; no UDF appears on a hot path.
  */
object Scalars {
  import Exact._

  /** B12 union (distinct): high-value order customers ∪ BUILDING-segment
    * customers.
    */
  def q19Union(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("ck"))
    val b = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("ck"))
    a.unionByName(b).distinct().orderBy(col("ck"))
  }

  val q19Oracle: String =
    """SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 400000
      |UNION
      |SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY ck""".stripMargin

  /** B12 intersect. */
  def q20Intersect(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("ck"))
    val b = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("ck"))
    a.intersect(b).orderBy(col("ck"))
  }

  val q20Oracle: String =
    """SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000
      |INTERSECT
      |SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |ORDER BY ck""".stripMargin

  /** B12 except: customers minus those with any large order. */
  def q21Except(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.customer(spark, dir).select(col("c_custkey").as("ck"))
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("ck"))
    all.except(big).orderBy(col("ck"))
  }

  val q21Oracle: String =
    """SELECT c_custkey AS ck FROM customer
      |EXCEPT
      |SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000
      |ORDER BY ck""".stripMargin

  /** B13 string functions: upper, substring, regexp_extract, split +
    * element_at, length.
    */
  def q22StringFn(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_type"), 1, 4).as("type_prefix"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        length(col("p_name")).as("name_len"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        translate(col("p_type"), "AEIOU", "aeiou").as("type_lowered_vowels"),
        reverse(col("p_name")).as("name_reversed"))
      .orderBy(col("p_partkey"))

  val q22Oracle: String =
    """SELECT p_partkey,
      |  UPPER(p_name) AS name_upper,
      |  SUBSTRING(p_type, 1, 4) AS type_prefix,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  string_split(p_name, ' ')[1] AS first_word,
      |  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
      |  lpad(p_brand, 12, '*') AS brand_padded,
      |  translate(p_type, 'AEIOU', 'aeiou') AS type_lowered_vowels,
      |  reverse(p_name) AS name_reversed
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** B13 math + date functions: round/abs on decimal (exact), year/month,
    * date_trunc, datediff.
    */
  def q23MathDateFn(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        round(dec2(col("o_totalprice")), 0).cast(DecimalType(38, 0))
          .cast(DoubleType).as("total_rounded"),
        abs(dec2(col("o_totalprice")) - lit(100000)).cast(DecimalType(38, 2))
          .cast(DoubleType).as("dist_from_100k"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        date_trunc("month", col("o_orderdate")).as("o_month_start"),
        datediff(lit("2002-01-01").cast(DateType), col("o_orderdate")).as("days_to_2002"),
        last_day(col("o_orderdate")).as("month_end"),
        quarter(col("o_orderdate")).as("o_quarter"),
        weekofyear(col("o_orderdate")).as("iso_week"))
      .orderBy(col("o_orderkey"))

  val q23Oracle: String =
    """SELECT o_orderkey,
      |  CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 0) AS DECIMAL(38,0)) AS DOUBLE) AS total_rounded,
      |  CAST(CAST(ABS(CAST(o_totalprice AS DECIMAL(12,2)) - 100000) AS DECIMAL(38,2)) AS DOUBLE) AS dist_from_100k,
      |  CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(MONTH(o_orderdate) AS INTEGER) AS o_month,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(QUARTER(o_orderdate) AS INTEGER) AS o_quarter,
      |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** B13 array functions: split, size, array_distinct, array_contains over
    * document token arrays.
    */
  def q24ArrayFn(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct_tokens"),
        array_contains(split(col("text"), " "), "spark").as("has_spark"),
        element_at(split(col("text"), " "), 1).as("first_token"),
        // joined to one string: array-typed output columns are not hashable
        // by row-wise comparators downstream, and the scalar form carries
        // the same information
        array_join(slice(sort_array(array_distinct(split(col("text"), " "))), 1, 3), ",")
          .as("first3_sorted_tokens"))
      .orderBy(col("doc_id"))

  val q24Oracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
      |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
      |  string_split(text, ' ')[1] AS first_token,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3_sorted_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** B13 JSON functions on events.props: path extraction + schema-projected
    * from_json.
    */
  def q25JsonFn(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_value"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k_struct"))
      .orderBy(col("event_id"))

  val q25Oracle: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** B13 conditionals: CASE WHEN, nullif, coalesce. */
  def q26Conditional(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "S")
          .when(col("o_totalprice") < 200000, "M")
          .otherwise("L").as("size_class"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_display"))
      .orderBy(col("o_orderkey"))

  val q26Oracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice < 50000 THEN 'S'
      |       WHEN o_totalprice < 200000 THEN 'M'
      |       ELSE 'L' END AS size_class,
      |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_display
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** B12 MULTISET set ops — intersectAll/exceptAll keep duplicate
    * multiplicity (order keys appear once per qualifying order, and a
    * customer with three big orders loses three copies, not one) where
    * q20/q21's distinct forms collapse them. Same single-shuffle shapes:
    * Spark plans both as a count-tagged aggregate + generate.
    */
  def q126SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    // per-order customer keys (dupes = multiple qualifying orders)
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 250000).select(col("o_custkey").as("ck"))
    val auto = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey").as("ck"))
    big.intersectAll(auto).groupBy(col("ck")).agg(count(lit(1)).as("n_inter"))
      .join(
        big.exceptAll(auto).groupBy(col("ck")).agg(count(lit(1)).as("n_except")),
        Seq("ck"), "full_outer")
      .orderBy(col("ck"))
  }

  val q126Oracle: String =
    """WITH big AS (
      |  SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 250000),
      |auto AS (
      |  SELECT c_custkey AS ck FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  WHERE c_mktsegment = 'AUTOMOBILE'),
      |i AS (SELECT ck, COUNT(*) AS n_inter FROM
      |        (SELECT ck FROM big INTERSECT ALL SELECT ck FROM auto) GROUP BY ck),
      |e AS (SELECT ck, COUNT(*) AS n_except FROM
      |        (SELECT ck FROM big EXCEPT ALL SELECT ck FROM auto) GROUP BY ck)
      |SELECT COALESCE(i.ck, e.ck) AS ck, i.n_inter, e.n_except
      |FROM i FULL JOIN e ON i.ck = e.ck
      |ORDER BY ck""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q126_set_ops_all", q126SetOpsAll, q126Oracle),
    QuerySpec("q19_union", q19Union, q19Oracle),
    QuerySpec("q20_intersect", q20Intersect, q20Oracle),
    QuerySpec("q21_except", q21Except, q21Oracle),
    QuerySpec("q22_string_fn", q22StringFn, q22Oracle),
    QuerySpec("q23_math_date_fn", q23MathDateFn, q23Oracle),
    QuerySpec("q24_array_fn", q24ArrayFn, q24Oracle),
    QuerySpec("q25_json_fn", q25JsonFn, q25Oracle),
    QuerySpec("q26_conditional", q26Conditional, q26Oracle))
}
