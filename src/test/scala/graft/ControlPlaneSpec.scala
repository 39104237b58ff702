package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ColumnMapping, Credentials, MappingRegistry, SourceType, TargetSchema}
import graft.pipeline.JobRunner
import graft.pipeline.JobRunner.{ConnectorRecord, EncryptedCreds}
import graft.sources.JdbcTableSource
import graft.store.JdbcStore

/** End-to-end test of the composed flagship flow (JobRunner ≙
  * `lambda_function.py:84-203`) against embedded Derby: encrypted creds →
  * decrypt → connect → catalog listing → table validation → fetch →
  * schema-map → staged JDBC upsert.
  */
class ControlPlaneSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val keyHex = "00112233445566778899aabbccddeeff" * 2 // AES-256
  private val ivHex = "0102030405060708090a0b0c"
  private val dbName = "ctrlplane"

  private def jdbcUrl = s"jdbc:derby:memory:$dbName;create=true"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try f(c) finally c.close()
  }

  private def connector(id: String): ConnectorRecord = {
    val (ct, tag) = Credentials.encryptPassword("s3cr3t!", keyHex, ivHex)
    ConnectorRecord(
      id = id,
      source = SourceType.Derby,
      creds = Some(EncryptedCreds(
        host = "localhost", port = 1527, database = dbName,
        username = "app", encryptedPasswordHex = ct, tagHex = tag, ivHex = ivHex)))
  }

  /** Idempotent schema fixture: every test that needs the Derby tables
    * references this, so any single test (or any ordering) runs
    * self-contained instead of depending on a creator test running first.
    */
  private lazy val schemaReady: Unit = withConn { c =>
    val st = c.createStatement()
    def createOnce(sql: String): Unit = try st.execute(sql) catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => // exists
    }
    createOnce("""CREATE TABLE src_orders ("oid" INT PRIMARY KEY, "status" VARCHAR(8), "amount" DOUBLE)""")
    createOnce("""CREATE TABLE tgt_orders ("order_id" VARCHAR(16) PRIMARY KEY, "amount_f" REAL)""")
    st.execute("DELETE FROM src_orders")
    st.execute("""INSERT INTO src_orders VALUES (1, 'O', 10.5), (2, 'F', 20.25), (3, 'O', 7.75)""")
    st.close()
  }

  private val orderMapping = TargetSchema(Seq(
    ColumnMapping("order_id", "oid", "string"),
    ColumnMapping("amount_f", "amount", "float")))

  test("flagship flow: decrypt -> probe -> catalog -> fetch -> map -> upsert") {
    schemaReady
    // the reference loads connector id -> mapping from a registry table;
    // here the same document comes as JSON through MappingRegistry
    val mappings = MappingRegistry.parse(
      """{"conn-1": {"columns": [
        |  {"name": "order_id", "source": "oid", "type": "string"},
        |  {"name": "amount_f", "source": "amount", "type": "float"}]}}""".stripMargin)
    assert(mappings === Map("conn-1" -> orderMapping))
    val cfg = graft.model.JdbcConfig(jdbcUrl, "app", "s3cr3t!",
      "org.apache.derby.jdbc.EmbeddedDriver")
    val report = JobRunner.run(
      spark,
      connectors = Map("conn-1" -> connector("conn-1")),
      connectionId = "conn-1",
      table = Some("SRC_ORDERS"),
      keyHex = keyHex,
      mappings = mappings,
      store = new JdbcStore(cfg, "tgt_orders", "order_id",
        stagingColumnTypes = Some("order_id VARCHAR(16)")))
    assert(report.sourceType === SourceType.Derby)
    assert(report.tables.map(_.toUpperCase).contains("SRC_ORDERS"))
    val stored = JdbcTableSource(cfg, "tgt_orders").fetch(spark)
      .orderBy("order_id").as[(String, Float)].collect().toSeq
    assert(stored === Seq(("1", 10.5f), ("2", 20.25f), ("3", 7.75f)))
  }

  test("flagship flow is idempotent on re-run (staged upsert semantics)") {
    schemaReady
    val cfg = graft.model.JdbcConfig(jdbcUrl, "app", "s3cr3t!",
      "org.apache.derby.jdbc.EmbeddedDriver")
    JobRunner.run(
      spark,
      connectors = Map("conn-1" -> connector("conn-1")),
      connectionId = "conn-1",
      table = Some("SRC_ORDERS"),
      keyHex = keyHex,
      mappings = Map("conn-1" -> orderMapping),
      store = new JdbcStore(cfg, "tgt_orders", "order_id",
        stagingColumnTypes = Some("order_id VARCHAR(16)")))
    val n = JdbcTableSource(cfg, "tgt_orders").fetch(spark).count()
    assert(n === 3, "same keys upserted twice must not duplicate")
  }

  test("mapping registry rejects non-array columns and a column without a source") {
    intercept[IllegalArgumentException] {
      MappingRegistry.parse("""{"conn-1": {"columns": {"name": "order_id"}}}""")
    }
    val ex = intercept[IllegalArgumentException] {
      MappingRegistry.parse(
        """{"conn-1": {"columns": [{"name": "order_id", "type": "string"}]}}""")
    }
    assert(ex.getMessage.contains("'source'"))
  }

  test("unknown connector id fails loudly") {
    intercept[NoSuchElementException] {
      JobRunner.run(spark, Map.empty, "nope")
    }
  }

  test("invalid table name fails against the live catalog") {
    schemaReady
    val ex = intercept[IllegalArgumentException] {
      JobRunner.run(
        spark,
        connectors = Map("conn-1" -> connector("conn-1")),
        connectionId = "conn-1",
        table = Some("NO_SUCH_TABLE"),
        keyHex = keyHex)
    }
    assert(ex.getMessage.contains("Invalid table name"))
  }

  test("wrong key fails the credential decrypt (GCM auth)") {
    intercept[Exception] {
      JobRunner.run(
        spark,
        connectors = Map("conn-1" -> connector("conn-1")),
        connectionId = "conn-1",
        table = Some("SRC_ORDERS"),
        keyHex = "ff" * 32)
    }
  }

  test("file-source connector dispatches without a table or creds") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ctrl_csv"
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val report = JobRunner.run(
      spark,
      connectors = Map("conn-f" -> ConnectorRecord(
        "conn-f", SourceType.Csv, filePath = Some(dir))),
      connectionId = "conn-f",
      store = new graft.store.ParquetStore(
        s"${sys.props("java.io.tmpdir")}/graft_ctrl_out", Seq("id")))
    assert(report.result.count() === 2)
  }
}
