package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

/** Order-insensitive checksum of a frame: its row count and the sum,
  * modulo 2^64, of `xxhash64` over all of a row's columns.
  *
  * The checksum is taken while the frame's own physical plan runs: it is
  * the plan `queryExecution.toRdd` executes, the one a timed execution
  * counts, with each output row hashed as it is counted. So a set-up
  * execution that takes the checksum compiles and runs exactly the code
  * the timed executions run, and no second execution is needed.
  *
  * Top-level floating-point columns are hashed at float precision, so the
  * last bits of a double sum that Spark may add up in a different order
  * from run to run do not change the checksum; map columns are hashed as
  * their sorted entries, since Spark cannot hash a map. */
object Checksum {
  final case class Sum(rows: Long, hash: Long) {
    def toMap: Map[String, Any] = Map("rows" -> rows, "hash" -> hash.toString)
  }

  private def normalize(a: Attribute): Expression = a.dataType match {
    case DoubleType | FloatType => Cast(a, FloatType, Some("UTC"))
    case _: MapType => SortArray(MapEntries(a), Literal(true))
    case _ => a
  }

  def of(df: DataFrame): Sum = {
    val qe = df.queryExecution
    val out = qe.executedPlan.output
    // Evaluated without code generation: the rows are few, and generated
    // code would add compilation that is not the program's.
    val hash = BindReferences.bindReference[Expression](
      if (out.isEmpty) Literal(0L) else new XxHash64(out.map(normalize)), out)
    val (rows, sum) = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += hash.eval(r).asInstanceOf[Long] }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
    Sum(rows, sum)
  }

  /** Checksum of trail events: uuid, time and the given fields, with an
    * empty value and NULL counted as the same value (the .tdb format
    * stores both as value id 0). */
  def ofTrails(df: DataFrame, fields: Seq[String]): Sum =
    of(df.select(col("uuid") +: col("time") +:
      fields.map(f => when(col(f) === "", lit(null)).otherwise(col(f)).as(f)): _*))
}
