package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{ColumnMapping, JdbcConfig, TargetSchema}
import graft.sources.{CsvSource, JsonSource}
import graft.store.{JdbcStore, ParquetStore}
import graft.transform.Transforms

/** One timed call into the program. */
final case class Op(name: String, run: () => Unit)

/** A closed-loop workload. [[prepare]] generates the inputs, [[warmUp]] runs
  * the untimed warm-up and output check, and [[pass]] yields the operations
  * of the p-th timed pass (empty when the inputs are used up). */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer, val expected: Expected) {
  def prepare(): Unit
  def warmUp(): Unit
  def pass(p: Int): Seq[Op]
  /** Timed passes of an untraced run. */
  def timedPasses: Int
  /** The quantile `op_tail_s` reports, and its name. */
  def tail: (Double, String)
  /** Output checks after the timed passes. */
  def finish(): Unit = ()
  /** Workload-specific figures for the run's info line. */
  def info: Map[String, Any] = Map.empty
  /** The workload's own end-to-end figures, from the latency of each
    * untraced timed operation. */
  def named(latencies: Seq[(String, Double)]): Map[String, Any]
  /** Layer figures this workload measures outside the tracer's spans. */
  def layerExtras: Map[String, Double] = Map.empty

  var checked = 0
  var mismatches = 0

  /** Compares an output digest with the committed one. */
  def check(what: String, got: String): Unit = {
    checked += 1
    if (!expected.verify(what, got)) {
      mismatches += 1
      System.err.println(s"[perfbench] output mismatch: $what is $got, " +
        s"expected ${expected.get(what).getOrElse("nothing")}")
    }
  }

  /** An output check that needs no committed digest. */
  def require(what: String, ok: Boolean): Unit = {
    checked += 1
    if (!ok) {
      mismatches += 1
      System.err.println(s"[perfbench] output check failed: $what")
    }
  }
}

object Workload {
  /** Passes a run makes: the timed ones, or with tracing one discarded
    * pass and then as many traced as untraced ones. */
  def passesRun(timed: Int, trace: Boolean): Int = if (trace) 1 + 2 * timed else timed

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** The reference ETL job: fetch → keyed dedup + schema map → staged upsert. */
final class EtlUpsert(spark: SparkSession, work: String, seed: Long, tracer: Tracer,
    expected: Expected, baseRows: Int, batchRows: Int, traced: Boolean)
    extends Workload(spark, work, seed, tracer, expected) {

  val Keys = Seq("l_orderkey", "l_linenumber")
  val JdbcEvery = 4
  val WarmBatches = 4
  val ReferenceSeed = 42L
  /** 20 batches, 5 of them also sent to Derby. */
  val timedPasses = 5
  /** p90 of 20 batches lies among the 5 Derby batches. */
  val tail = (0.9, "p90")
  val batches: Int = Workload.passesRun(timedPasses, traced) * JdbcEvery

  private val schema = TargetSchema(Seq(
    ColumnMapping("l_orderkey", "l_orderkey", "integer"),
    ColumnMapping("l_partkey", "l_partkey", "integer"),
    ColumnMapping("l_suppkey", "l_suppkey", "integer"),
    ColumnMapping("l_linenumber", "l_linenumber", "integer"),
    ColumnMapping("l_quantity", "l_quantity", "double"),
    ColumnMapping("l_extendedprice", "l_extendedprice", "double"),
    ColumnMapping("l_discount", "l_discount", "double"),
    ColumnMapping("l_tax", "l_tax", "double"),
    ColumnMapping("l_returnflag", "l_returnflag", "string"),
    ColumnMapping("l_linestatus", "l_linestatus", "string"),
    ColumnMapping("l_shipdate", "l_shipdate", "date", Some("yyyy-MM-dd")),
    ColumnMapping("l_version", "l_version", "integer")))

  /** The target's types, for reading the generated files independently. */
  private val targetType = StructType(Seq(
    StructField("l_orderkey", IntegerType), StructField("l_partkey", IntegerType),
    StructField("l_suppkey", IntegerType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_version", IntegerType)))

  private val derbyColumns =
    """"l_orderkey" INT, "l_partkey" INT, "l_suppkey" INT, "l_linenumber" INT,
      |"l_quantity" DOUBLE, "l_extendedprice" DOUBLE, "l_discount" DOUBLE, "l_tax" DOUBLE,
      |"l_returnflag" VARCHAR(1), "l_linestatus" VARCHAR(1), "l_shipdate" DATE,
      |"l_version" INT, "l_key" BIGINT PRIMARY KEY""".stripMargin

  /** One target: a parquet directory plus a Derby table fed every
    * [[JdbcEvery]]-th batch. */
  private final class Target(val name: String, val inputs: Gen.EtlInputs) {
    val path = s"$work/$name/target"
    val store = new ParquetStore(path, Keys)
    val jdbc = JdbcConfig(s"jdbc:derby:memory:perfbench_$name;create=true", "", "",
      "org.apache.derby.jdbc.EmbeddedDriver")
    val table = s"${name}_lineitem"
    val jdbcStore = new JdbcStore(jdbc, table, "l_key",
      stagingColumnTypes = Some("l_returnflag VARCHAR(1), l_linestatus VARCHAR(1)"))
    var applied = 0
    var baseBytes = 0L

    def sql[A](f: java.sql.Statement => A): A = {
      val c = java.sql.DriverManager.getConnection(jdbc.url)
      try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
    }

    def load(): Unit = {
      sql(_.executeUpdate(s"CREATE TABLE $table ($derbyColumns)"))
      store.upsert(Transforms.mapColumnsToTarget(CsvSource(inputs.baseDir).fetch(spark), schema))
      baseBytes = Workload.dirBytes(Paths.get(path))
    }

    def applyNext(): Unit = {
      val b = applied
      val raw = tracer.span("sources", "JsonSource.fetch")(
        JsonSource(inputs.batchDirs(b), multiLine = false).fetch(spark))
      val deduped = tracer.span("transform", "Transforms.dedupKeyed")(
        Transforms.dedupKeyed(raw, Keys, Seq(col("l_version").desc)))
      val mapped = tracer.span("transform", "Transforms.mapColumnsToTarget")(
        Transforms.mapColumnsToTarget(deduped, schema))
      tracer.span("store", "ParquetStore.upsert")(store.upsert(mapped))
      if (isDerbyBatch(b))
        tracer.span("store.jdbc", "JdbcStore.upsert")(jdbcStore.upsert(
          mapped.withColumn("l_key", col("l_orderkey").cast(LongType) * 8 + col("l_linenumber"))))
      applied += 1
    }

    def isDerbyBatch(b: Int): Boolean = b % JdbcEvery == JdbcEvery - 1

    /** Last write wins per key over the base and the applied batches, by
      * version, with plain DataFrame operations. */
    def expectedTarget: DataFrame = {
      val base = spark.read.schema(targetType).option("header", "true")
        .option("dateFormat", "yyyy-MM-dd").csv(inputs.baseDir)
      val changes = (0 until applied).map(b =>
        spark.read.schema(targetType).json(inputs.batchDirs(b)))
      val all = (base +: changes).reduce(_ unionByName _)
      val rest = targetType.fieldNames.filterNot(Keys.contains)
      all.groupBy(Keys.map(col): _*)
        .agg(max(struct(col("l_version") +: rest.filter(_ != "l_version").map(col): _*)).as("w"))
        .select(Keys.map(col) ++ Seq(col("w.l_version")) ++
          rest.filter(_ != "l_version").map(c => col(s"w.$c")): _*)
    }

    def expectedDerbyRows: Long = {
      val derby = (0 until applied).filter(isDerbyBatch)
      if (derby.isEmpty) 0L
      else derby.map(b => spark.read.schema(targetType).json(inputs.batchDirs(b)))
        .reduce(_ unionByName _).select(Keys.map(col): _*).distinct().count()
    }

    def derbyRows: Long = sql { st =>
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    }

    def targetDigest: String = Digest.of(spark.read.parquet(path))
  }

  private var main: Target = _
  private var reference: Target = _
  private var bytesWritten = 0L
  private var batchBytes = 0L
  private var layerOps = 0

  def prepare(): Unit =
    main = new Target("run", Gen.etl(s"$work/etl-gen", seed, baseRows, batches, batchRows))

  /** Applies [[WarmBatches]] fixed-seed batches to a reference target a
    * tenth the size and checks it against the committed digests, then
    * loads the seeded base. */
  def warmUp(): Unit = {
    reference = new Target("reference", Gen.etl(s"$work/etl-gen-reference", ReferenceSeed,
      baseRows / 10, WarmBatches, batchRows / 10))
    reference.load()
    (0 until WarmBatches).foreach(_ => reference.applyNext())
    check("etl_upsert.reference_target", reference.targetDigest)
    check("etl_upsert.reference_derby_rows", reference.derbyRows.toString)
    main.load()
  }

  def pass(p: Int): Seq[Op] = {
    val from = p * JdbcEvery
    if (from + JdbcEvery > batches) Nil
    else Seq.tabulate(JdbcEvery)(i => Op(s"batch-${from + i}", () => {
      main.applyNext()
      if (tracer.isActive) {
        val b = main.applied - 1
        bytesWritten += Workload.dirBytes(Paths.get(main.path))
        batchBytes += main.inputs.batchBytes(b)
        layerOps += 1
      }
    }))
  }

  override def finish(): Unit = {
    require("etl_upsert target equals last write wins",
      main.targetDigest == Digest.of(main.expectedTarget))
    require("etl_upsert Derby rows equal the keys sent to Derby",
      main.derbyRows == main.expectedDerbyRows)
  }

  /** Batch latency is `op_p50_s` and `op_tail_s`; the info line names them. */
  def named(latencies: Seq[(String, Double)]): Map[String, Any] = {
    val xs = latencies.map(_._2)
    Map("etl.rows_per_s" -> batchRows * xs.size / xs.sum,
      "aliases" -> Map("etl.batch_p50_s" -> "op_p50_s", "etl.batch_tail_s" -> "op_tail_s"))
  }

  override def info: Map[String, Any] = Map(
    "batches_applied" -> main.applied, "batch_rows" -> batchRows, "base_rows" -> baseRows)

  override def layerExtras: Map[String, Double] = {
    val live = main.inputs.liveKeysAfter(main.applied - 1).toDouble
    val bytesPerLive = Workload.dirBytes(Paths.get(main.path)) / live
    Map(
      "store.bytes_written" -> bytesWritten.toDouble / math.max(1, layerOps),
      "store.write_amp" -> (if (batchBytes > 0) bytesWritten.toDouble / batchBytes else 0.0),
      "store.space_amp" -> bytesPerLive / (main.baseBytes.toDouble / baseRows))
  }
}

/** Reads: `SparkEntry.queries` entries, each a build and a `noop` write.
  * Entries named `*_run` are the composed pipeline runs, whose build is
  * the pipeline's `run`; the others are single queries.
  *
  * One pass is as long as the rest of the run, so there is no warm-up
  * pass: set-up runs one small query to start the engine, and the first
  * timed pass carries the digests, computed as observed metrics of its
  * `noop` writes. The first pass is therefore the coldest, and the order
  * is fixed: an order that changed with the seed would move compile time
  * from one entry to another between runs.
  */
final class QueryMix(spark: SparkSession, work: String, seed: Long, tracer: Tracer,
    expected: Expected, sf: Double, corpusDir: String, names: Seq[String])
    extends Workload(spark, work, seed, tracer, expected) {

  val WarmUpQuery = "q01_agg_pricing"
  val CorpusSeed = 42L
  /** Staging directories of the composed runs, under the temp directory. */
  val PipelineStaging = Seq("graft_curation_run_", "graft_dedup_audit_", "graft_retrieval_run_")
  private lazy val registry = graft.SparkEntry.queries
  private var digestsTaken = false
  private var stagedBytes = 0L
  private var pipelineOps = 0

  /** One cold pass. */
  val timedPasses = 1
  val tail = (1.0, "max")

  /** The corpus does not depend on the seed, so it is generated once per
    * build, by a JVM of its own, and kept in `corpusDir`. */
  def prepare(): Unit = {
    val done = new File(corpusDir, "_COMPLETE")
    if (!done.exists()) {
      val tmp = s"$corpusDir.tmp-${ProcessHandle.current().pid()}"
      Gen.tables(spark, tmp, sf, CorpusSeed)
      new File(tmp, "_COMPLETE").createNewFile()
      if (!new File(tmp).renameTo(new File(corpusDir)) && !done.exists())
        throw new java.io.IOException(s"could not move the corpus to $corpusDir")
    }
  }

  /** Build, then write to the `noop` sink, observing a digest if asked. */
  private def op(name: String, digest: Boolean): Op = Op(name, () => {
    val layer = if (name.endsWith("_run")) "pipeline" else "queries.build"
    val df = tracer.span(layer, name)(registry(name)(spark, corpusDir))
    val (toWrite, read) =
      if (digest) { val (d, r) = Digest.observe(df); (d, Some(r)) } else (df, None)
    tracer.span("queries.exec", "noop")(toWrite.write.format("noop").mode("overwrite").save())
    read.foreach(r => check(s"query_mix.$name", r()))
    if (tracer.isActive && layer == "pipeline") {
      val s = Files.list(Paths.get(sys.props("java.io.tmpdir")))
      try stagedBytes += s.iterator().asScala
        .filter(p => PipelineStaging.exists(p.getFileName.toString.startsWith))
        .map(Workload.dirBytes).sum
      finally s.close()
      pipelineOps += 1
    }
  })

  def warmUp(): Unit = op(WarmUpQuery, digest = true).run()

  def named(latencies: Seq[(String, Double)]): Map[String, Any] = {
    val (runs, queries) = latencies.partition(_._1.endsWith("_run"))
    val xs = queries.map(_._2)
    Map("query.total_s" -> xs.sum, "query.p50_s" -> Stats.median(xs),
      "query.tail_s" -> Stats.quantile(xs, tail._1), "query.tail_percentile" -> tail._2,
      "curation.total_s" -> runs.map(_._2).sum)
  }

  def pass(p: Int): Seq[Op] = {
    val digest = !digestsTaken
    digestsTaken = true
    names.map(op(_, digest))
  }

  /** Bytes of the pipeline runs' staged intermediates, per pipeline run. */
  override def layerExtras: Map[String, Double] =
    Map("pipeline.staged_bytes" -> stagedBytes.toDouble / math.max(1, pipelineOps))
}
