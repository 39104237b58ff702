package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a DataFrame: row count plus the
  * sum of a 64-bit hash of each row's canonical text.
  *
  * Columns are taken in name order, so a reordered projection keeps its
  * digest. Floating-point values are rendered with ten significant digits,
  * so a sum whose addition order differs between runs still digests the
  * same. Nested values are rendered element by element the same way.
  */
object Digest {
  private def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canonical(x, et)).cast(StringType)
    case StructType(fields) =>
      struct(fields.toIndexedSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
        .cast(StringType)
    case MapType(kt, vt, _) =>
      transform(map_entries(c), e =>
        struct(canonical(e.getField("key"), kt), canonical(e.getField("value"), vt)))
        .cast(StringType)
    case BinaryType => hex(c)
    case _ => c.cast(StringType)
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toIndexedSeq.sortBy(_.name).map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      coalesce(canonical(c, f.dataType), lit("\u0000"))
    }
    xxhash64((lit(cols.size) +: cols): _*)
  }

  private def aggregates(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(rowHash(df).cast(DecimalType(38, 0))).as("h"))

  private def render(n: Any, h: Any): String =
    s"$n:${Option(h).map(_.toString).getOrElse("0")}"

  def of(df: DataFrame): String = {
    val r = df.agg(aggregates(df).head, aggregates(df).tail: _*).head()
    render(r.get(0), r.get(1))
  }

  /** `df` with the digest attached as observed metrics: an action on the
    * returned frame computes the digest in the same pass, and `read` then
    * returns it. */
  def observe(df: DataFrame): (DataFrame, () => String) = {
    val obs = Observation()
    val aggs = aggregates(df)
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    (observed, () => { val m = obs.get; render(m("n"), m("h")) })
  }
}
