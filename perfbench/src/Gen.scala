package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs.
  *
  * [[tables]] writes the star schema plus the events, documents and
  * embeddings tables that `SparkEntry.queries` reads, with the schemas and
  * value domains of the project's parquet testdata (FIXTURES.md §B). Every
  * value is a hash of (row id, column, seed), so the output depends only on
  * the scale and the seed, never on partitioning.
  *
  * [[etl]] writes the ETL job's inputs with plain JVM code: a header-CSV
  * base extract of `lineitem` and JSON-lines change batches.
  */
object Gen {

  private val Two53 = (1L << 53).toDouble

  /** Uniform double in [0, 1) drawn from (id, salt, seed). */
  private def u(id: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(seed)), lit(1L << 53)).cast("double") / lit(Two53)

  private def below(id: Column, salt: Int, seed: Long, n: Long): Column =
    floor(u(id, salt, seed) * n).cast("long")

  private def pick(xs: Seq[String], id: Column, salt: Int, seed: Long): Column =
    element_at(array(xs.map(lit): _*), (below(id, salt, seed, xs.size) + 1).cast("int"))

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Vocabulary = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  private val Day = 86400L
  private val Epoch1995 = LocalDate.parse("1995-01-01").toEpochDay * Day
  private val Epoch2024 = LocalDate.parse("2024-01-01").toEpochDay * Day

  /** Rows per table at scale factor `sf` (TESTDATA.md): lineitem ≈ 6M·sf. */
  final case class Sizes(sf: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val customers: Long = n(150000)
    val suppliers: Long = n(10000)
    val parts: Long = n(200000)
    val orders: Long = n(1500000)
    val events: Long = n(1000000)
    val documents: Long = math.max(500L, n(50000))
    val embeddings: Long = math.max(500L, n(20000))
  }

  def tables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val sz = Sizes(sf)
    val id = col("id")
    // one parquet file per table, `<name>.parquet`, as in the testdata
    // (the streaming queries copy that file into their source directory)
    def write(name: String, df: DataFrame, key: String): Unit = {
      val tmp = new File(s"$dir/_$name")
      df.coalesce(1).sortWithinPartitions(key)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one parquet file for $name")
      Files.move(part.head.toPath, Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), "r_regionkey")
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "n_nationkey")
    write("customer", spark.range(sz.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      below(id, 1, seed, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(id, 2, seed) * 10999.98, 2).as("c_acctbal"),
      pick(Segments, id, 3, seed).as("c_mktsegment")), "c_custkey")
    write("supplier", spark.range(sz.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      below(id, 4, seed, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(id, 5, seed) * 10999.98, 2).as("s_acctbal")), "s_suppkey")
    write("part", spark.range(sz.parts).select(id.as("p_partkey"),
      concat(pick(Colors, id, 6, seed), lit(" "), pick(Nouns, id, 7, seed)).as("p_name"),
      concat(lit("Brand#"), (below(id, 8, seed, 25) + 1).cast("string")).as("p_brand"),
      pick(Types, id, 9, seed).as("p_type"),
      (below(id, 10, seed, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")), "p_partkey")

    val orders = spark.range(sz.orders).select(id.as("o_orderkey"),
      below(id, 11, seed, sz.customers).as("o_custkey"),
      pick(Seq("F", "O", "P"), id, 12, seed).as("o_orderstatus"),
      round(lit(1000.0) + u(id, 13, seed) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(Epoch1995) + below(id, 14, seed, 2404) * Day).as("o_orderdate"),
      pick(Priorities, id, 15, seed).as("o_orderpriority"))
    write("orders", orders, "o_orderkey")

    // 1..7 lines per order, so (l_orderkey, l_linenumber) is a key
    val lid = col("l_orderkey") * 8 + col("l_linenumber")
    val lines = orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (below(col("o_orderkey"), 16, seed, 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("l_quantity", (below(lid, 17, seed, 50) + 1).cast("double"))
    write("lineitem", lines.select(col("l_orderkey"),
      below(lid, 18, seed, sz.parts).as("l_partkey"),
      below(lid, 19, seed, sz.suppliers).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"),
      round(col("l_quantity") * (lit(900.0) + u(lid, 20, seed) * 1200.0), 2).as("l_extendedprice"),
      (below(lid, 21, seed, 11) / 100.0).as("l_discount"),
      (below(lid, 22, seed, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), lid, 23, seed).as("l_returnflag"),
      pick(Seq("F", "O"), lid, 24, seed).as("l_linestatus"),
      timestamp_seconds(unix_seconds(col("o_orderdate")) + (below(lid, 25, seed, 121) + 1) * Day)
        .as("l_shipdate")), "l_orderkey")

    // ~30 days of events in id order, with jitter under the mean gap
    val gapMicros = 30L * Day * 1000000L / sz.events
    write("events", spark.range(sz.events).select(id.as("event_id"),
      timestamp_micros(lit(Epoch2024 * 1000000L) + id * gapMicros +
        below(id, 26, seed, math.max(1L, gapMicros / 2))).as("ts"),
      below(id, 27, seed, 1500).as("user_id"),
      pick(EventTypes, id, 28, seed).as("event_type"),
      round(u(id, 29, seed) * u(id, 30, seed) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), below(id, 31, seed, 100).cast("string"), lit("}")).as("props")),
      "event_id")

    // ~5% of documents are a copy of an earlier one with " dup" appended
    val vocab = array(Vocabulary.map(lit): _*)
    val docs = spark.range(sz.documents).select(id.as("doc_id"),
      array_join(transform(sequence(lit(1), (below(id, 32, seed, 91) + 10).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(id, i, lit(seed)), lit(Vocabulary.size.toLong)) + 1)
          .cast("int"))), " ").as("base_text"),
      pick(Langs, id, 33, seed).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"),
      when(id > 0 && u(id, 34, seed) < 0.05, below(id, 35, seed, 1L << 40) % id).as("dup_of"))
    val originals = docs.select(col("doc_id").as("src_id"), col("base_text").as("src_text"))
    val text = when(col("dup_of").isNotNull, concat(col("src_text"), lit(" dup")))
      .otherwise(col("base_text"))
    write("documents", docs.join(originals, col("dup_of") === col("src_id"), "left")
      .select(col("doc_id"), text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars")), "doc_id")

    // unit vectors with Box-Muller normal coordinates
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * ln(u(id * 64 + j, 36, seed) + 1e-12)) *
        cos(lit(2 * math.Pi) * u(id * 64 + j, 37, seed)))
    write("embeddings", spark.range(sz.embeddings)
      .select(id.as("vec_id"), raw.as("raw"), below(id, 38, seed, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label")), "vec_id")
  }

  /** The ETL job's generated inputs. Batch `b` (0-based) sits in
    * `batchDirs(b)`; its rows carry `l_version = (b + 1) * 1000000 + row`,
    * so a higher version is a later write. */
  final case class EtlInputs(
      baseDir: String,
      batchDirs: IndexedSeq[String],
      batchBytes: IndexedSeq[Long],
      /** live keys after batch b has been applied */
      liveKeysAfter: IndexedSeq[Int])

  val EtlColumns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "l_version")

  /** Base extract of `baseRows` lineitem rows, then `batches` change batches
    * of `batchRows` rows each: 60% updates of live keys, 30% new keys, 10%
    * repeats of a key already in the same batch (the later row wins). */
  def etl(dir: String, seed: Long, baseRows: Int, batches: Int, batchRows: Int): EtlInputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val keys = mutable.ArrayBuffer.empty[Long] // orderkey * 8 + linenumber
    val live = mutable.HashSet.empty[Long]
    var nextOrder = 0L

    def row(key: Long, version: Int): Seq[Any] = {
      val q = (1 + rnd.nextInt(50)).toDouble
      Seq(key / 8, rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong, (key % 8).toInt, q,
        math.round(q * (900 + rnd.nextDouble() * 1200) * 100) / 100.0,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        "ANR".charAt(rnd.nextInt(3)).toString, "FO".charAt(rnd.nextInt(2)).toString,
        LocalDate.ofEpochDay(9131 + rnd.nextInt(2525)).toString, version)
    }
    def newOrderKeys(): Seq[Long] = {
      val n = 1 + rnd.nextInt(7)
      val o = nextOrder
      nextOrder += 1
      (1 to n).map(l => o * 8 + l)
    }
    def writeFile(path: File)(lines: Iterator[String]): Long = {
      path.getParentFile.mkdirs()
      val w = new BufferedWriter(new FileWriter(path))
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
      path.length()
    }
    def jsonValue(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case d: Double => java.lang.Double.toString(d)
      case other => other.toString
    }

    val baseDir = s"$dir/base"
    val base = mutable.ArrayBuffer.empty[Seq[Any]]
    while (base.size < baseRows) newOrderKeys().foreach { k =>
      if (base.size < baseRows) { base += row(k, 0); keys += k; live += k }
    }
    writeFile(new File(s"$baseDir/part-00000.csv"))(
      Iterator(EtlColumns.mkString(",")) ++ base.iterator.map(_.mkString(",")))

    val batchDirs = IndexedSeq.tabulate(batches)(b => f"$dir/batch-$b%04d")
    val liveAfter = mutable.ArrayBuffer.empty[Int]
    val bytes = batchDirs.zipWithIndex.map { case (bdir, b) =>
      val rows = mutable.ArrayBuffer.empty[Seq[Any]]
      val inBatch = mutable.ArrayBuffer.empty[Long]
      var pending = List.empty[Long]
      while (rows.size < batchRows) {
        val r = rnd.nextDouble()
        val k =
          if (r < 0.1 && inBatch.nonEmpty) inBatch(rnd.nextInt(inBatch.size))
          else if (r < 0.4) {
            if (pending.isEmpty) { pending = newOrderKeys().toList; keys ++= pending }
            val h = pending.head
            pending = pending.tail
            h
          } else keys(rnd.nextInt(keys.size))
        rows += row(k, (b + 1) * 1000000 + rows.size)
        inBatch += k
        live += k
      }
      liveAfter += live.size
      writeFile(new File(s"$bdir/part-00000.json"))(rows.iterator.map { r =>
        EtlColumns.zip(r).map { case (c, v) => "\"" + c + "\":" + jsonValue(v) }
          .mkString("{", ",", "}")
      })
    }
    EtlInputs(baseDir, batchDirs, bytes, liveAfter.toIndexedSeq)
  }
}
