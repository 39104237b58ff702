package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.sources.{CsvSource, JsonSource, OrcSource, XmlSource}

/** API-surface queries: the SQL parser entry point and the file-format
  * sources (A1–A3) exercised inside the correctness gate via write→read
  * roundtrips. Each roundtrip writes a testdata table in the format under
  * test, reads it back through the graft source connector (schema
  * inference on), casts inferred wide types back to the originals, and
  * must hash-match the direct-parquet oracle — any loss in the
  * writer/reader/inference path breaks the gate.
  */
object SurfaceQueries {

  /** spark.sql(...) text entry over registered temp views — the full
    * parse → analyze → optimize path on SQL text.
    */
  def q52SqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
        |FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  val q52Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  private def rtDir(dir: String, format: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_rt_${format}_${Integer.toHexString(dir.hashCode)}"

  /** A2 CSV: header + inferSchema roundtrip of customer. */
  def q53CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = rtDir(dir, "csv")
    Tables.customer(spark, dir).write
      .mode(SaveMode.Overwrite).option("header", "true").csv(out)
    CsvSource(out).fetch(spark)
      .select(
        col("c_custkey").cast(LongType),
        col("c_name"),
        col("c_nationkey").cast(IntegerType),
        col("c_acctbal").cast(DoubleType),
        col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q53Oracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** A1 JSON: JSON-lines roundtrip of region (inference widens ints to
    * bigint; cast back).
    */
  def q54JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = rtDir(dir, "json")
    Tables.region(spark, dir).write.mode(SaveMode.Overwrite).json(out)
    JsonSource(out, multiLine = false).fetch(spark)
      .select(col("r_regionkey").cast(IntegerType), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  val q54Oracle: String =
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** A3 XML: rowTag roundtrip of supplier through Spark 4's native XML
    * source.
    */
  def q55XmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = rtDir(dir, "xml")
    Tables.supplier(spark, dir).write
      .mode(SaveMode.Overwrite).option("rowTag", "supplier").xml(out)
    XmlSource(out, rowTag = "supplier").fetch(spark)
      .select(
        col("s_suppkey").cast(LongType),
        col("s_name"),
        col("s_nationkey").cast(IntegerType),
        col("s_acctbal").cast(DoubleType))
      .orderBy(col("s_suppkey"))
  }

  val q55Oracle: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** ORC: typed columnar roundtrip of part — ORC carries the schema in the
    * file footer (no inference, no casts needed back), and the read-back
    * scan gets the same vectorized/pushdown treatment as parquet.
    */
  def q99OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = rtDir(dir, "orc")
    Tables.part(spark, dir).write.mode(SaveMode.Overwrite).orc(out)
    OrcSource(out).fetch(spark)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  val q99Oracle: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part ORDER BY p_partkey""".stripMargin

  /** SCHEMA EVOLUTION read: two parquet batches written with different
    * schemas into one table directory — v1 lacks the status column a
    * later ingest added — read back with `mergeSchema`, which unions the
    * footers' schemas and null-extends the missing column for v1 files.
    * This is the lake-format reality a long-lived 100 TB table lives
    * with: columns arrive over time and old files stay valid. (Schema
    * merge costs a footer read per file at planning; production tables
    * pin the merged schema in a catalog instead — the READ semantics
    * under test are identical.)
    */
  def q114SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = rtDir(dir, "evolve")
    val orders = Tables.orders(spark, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode(SaveMode.Overwrite).parquet(out)
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode(SaveMode.Append).parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  val q114Oracle: String =
    """SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Bad-record QUARANTINE: a JSON-lines ingest where a deterministic
    * slice of lines is malformed (truncated mid-object). The PERMISSIVE
    * read maps each bad line to null fields + the raw text in the
    * configured corrupt-record column — ingest keeps flowing, nothing is
    * silently dropped — and the gate buckets rows by language with the
    * corrupt bucket alongside, carrying a BIT-XOR of per-line md5-derived
    * int64s so the quarantine captured EXACTLY the malformed text (a
    * reader that clipped or re-encoded a line would mismatch). XOR, not
    * md5-of-concatenation: it is order-independent and MERGEABLE, so the
    * checksum partial-aggregates map-side at any corpus size instead of
    * collecting every bad line into one buffer.
    */
  def q117BadRecordQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val out = rtDir(dir, "badjson")
    Tables.documents(spark, dir)
      .select(
        when(col("doc_id") % 17 === 0,
          concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": ")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
      .write.mode(SaveMode.Overwrite).text(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("_bad", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(out)
      .groupBy(coalesce(col("lang"), lit("__corrupt__")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        bit_xor(graft.functions.Similarity.md5Hash64(col("_bad"))).as("bad_xor64"))
      .orderBy(col("bucket"))
  }

  val q117Oracle: String =
    """SELECT bucket, COUNT(*) AS n,
      |  bit_xor(CAST(
      |    (CAST(CAST('0x' || substr(md5(bad), 1, 8) AS BIGINT) AS HUGEINT) * 4294967296
      |       + CAST('0x' || substr(md5(bad), 9, 8) AS BIGINT))
      |    - CASE WHEN CAST('0x' || substr(md5(bad), 1, 8) AS BIGINT) >= 2147483648
      |           THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT))
      |    AS bad_xor64
      |FROM (SELECT CASE WHEN doc_id % 17 = 0 THEN '__corrupt__' ELSE lang END AS bucket,
      |        CASE WHEN doc_id % 17 = 0
      |             THEN '{"doc_id": ' || doc_id || ', "lang": ' END AS bad
      |      FROM documents)
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q117_bad_record_quarantine", q117BadRecordQuarantine, q117Oracle),
    QuerySpec("q114_schema_evolution", q114SchemaEvolution, q114Oracle),
    QuerySpec("q52_sql_entry", q52SqlEntry, q52Oracle),
    QuerySpec("q53_csv_roundtrip", q53CsvRoundtrip, q53Oracle),
    QuerySpec("q54_json_roundtrip", q54JsonRoundtrip, q54Oracle),
    QuerySpec("q55_xml_roundtrip", q55XmlRoundtrip, q55Oracle),
    QuerySpec("q99_orc_roundtrip", q99OrcRoundtrip, q99Oracle))
}
