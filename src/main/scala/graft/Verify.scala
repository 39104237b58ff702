package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import scala.util.matching.Regex
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev loop only): regex over query names to run a
    // subset; the driver always passes exactly (sfDir, outDir)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.lift(2).map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSessionFactory.build(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    // ORACLE-COUPLING GUARD (round-15 advice): several queries honor
    // spark.graft.* confs (the mixture token budget, the staged
    // intermediate tables) whose oracle SQL hardcodes the default-config
    // derivation. A verify run with any such conf injected (system
    // property / spark-defaults) would hash-mismatch spuriously — or
    // worse, verify a non-default configuration against a default-config
    // oracle. The gate contract is "confs unset"; enforce it.
    val injected = spark.conf.getAll.keys.filter(_.startsWith("spark.graft."))
    require(injected.isEmpty,
      s"verify requires default graft config, found: ${injected.mkString(", ")}")
    dump(spark, sfDir, outDir, nameFilter)
    spark.stop()
  }

  /** Writes every selected query's result, oracle_sql.json,
    * oracle_sql_staged.json and verify_failures.json into `outDir`. A query
    * that throws (non-fatally) is reported on stderr and recorded in
    * verify_failures.json as name → "<ExceptionClass>: <message>" (`{}`
    * when every query ran); the run goes on. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      nameFilter: Option[Regex]): Unit = {
    def selected(name: String) = nameFilter.forall(_.findFirstIn(name).isDefined)
    val failures = SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def write(file: String, entries: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.createDirectories(Paths.get(outDir))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
    write("oracle_sql.json", oracles)
    // Staged-intermediate oracle variants (round 15): for every cascade
    // oracle, the sf0.1 replay SQL that reads the engine-persisted pair
    // parquet (registered as the `staged_pairs` DuckDB view) instead of
    // re-deriving the quadratic candidate join from raw. The driver's
    // sf0.01 gate ignores this file — from-raw stays the hard gate; only
    // the dev-side 10x replay harness (dev/check.py --staged-pairs)
    // consumes it. See queries.StagedOracles.
    write("oracle_sql_staged.json",
      oracles.flatMap { case (k, v) => queries.StagedOracles.staged(v).map(k -> _) })
    write("verify_failures.json", failures.toSeq.sorted)
  }
}
