package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Single entry point for the driver's events table.
  *
  * TESTDATA.md promises only `ts: timestamp` — the physical parquet encoding
  * has varied across driver generations (TIMESTAMP(NANOS), which Spark 4
  * reads only as a nanos Long under the legacy flag, vs plain
  * timestamp[us]). Branch on the READ schema instead of assuming one
  * encoding, and normalize `ts` to epoch SECONDS as a Long either way —
  * matching the DuckDB oracle's `CAST(floor(epoch(ts)) AS BIGINT)`.
  */
object EventSource {

  /** events.parquet with `ts` rewritten to epoch-second Long. All other
    * columns pass through untouched. */
  def events(s: SparkSession, sfDir: String): DataFrame = {
    // Harmless when ts is not NANOS; required to read it at all when it is.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // timestamp[us] reads as TIMESTAMP_NTZ, whose only numeric path is via
    // TIMESTAMP — a session-timezone interpretation. Pin UTC so the result
    // equals DuckDB's epoch(ts) (naive timestamps treated as UTC) no matter
    // which entry point built the session.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val ev = ParquetInputs.read(s, s"$sfDir/events.parquet")
    ev.withColumn("ts", epochSeconds(ev))
  }

  /** Epoch-seconds column for the frame's `ts`, whichever encoding it has.
    * Integer DIV for the nanos-Long case keeps full precision (double
    * division at 1e18 loses the low bits); a timestamp cast to long is an
    * epoch-second floor, identical to the oracle's floor(epoch(ts)).
    * TIMESTAMP_NTZ cannot cast to BIGINT directly (Spark 4 DATATYPE_
    * MISMATCH); NTZ→TIMESTAMP interprets the naive value in the session
    * timezone, which [[events]] pins to UTC. */
  def epochSeconds(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType          => expr("ts DIV 1000000000")
    case TimestampNTZType  => col("ts").cast(TimestampType).cast("long")
    case _                 => col("ts").cast("long")
  }
}
