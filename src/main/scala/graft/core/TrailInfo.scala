package graft.core

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted db metadata — the Spark-native analog of the reference's `info`
  * file (written at finalize by src/tdb_encode.c:191-216, read at open by
  * src/tdb.c:677-700: num_trails, num_events, min/max timestamp). Stored as
  * `_graft_info.json` inside the table directory — the underscore prefix
  * keeps it invisible to Spark's parquet file listing, exactly like
  * `_SUCCESS`.
  *
  * Why it matters at scale: without the sidecar, `numTrails` is a
  * full-corpus exact-distinct (a 100 TB shuffle) EVERY time a user asks,
  * and `numEvents`/`timeRange` are full scans. With it, finalize takes the
  * stats once (during its write, like the reference's encode, or in one
  * aggregation over the data it just wrote) and every subsequent metadata
  * call is a driver-side file read.
  */
final case class TrailInfo(
    numTrails: Long,
    numEvents: Long,
    minTime: Long,
    maxTime: Long,
    fields: Seq[String],
    bucketSeconds: Option[Long],
    numTimed: Long = -1L) {

  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    s"""{"num_trails":$numTrails,"num_events":$numEvents,""" +
      s""""min_time":$minTime,"max_time":$maxTime,""" +
      s""""num_timed":$numTimed,""" +
      s""""fields":[${fields.map(f => s""""${esc(f)}"""").mkString(",")}]""" +
      bucketSeconds.map(b => s""","bucket_seconds":$b""").getOrElse("") + "}"
  }
}

object TrailInfo {
  val FileName = "_graft_info.json"

  /** The sidecar's stats, in [[fromStats]]' order: the trail count (its
    * aggregate differs by path), events, min and max time, and the
    * number of events with a non-null time. */
  private def stats(numTrails: Column): Seq[Column] = Seq(
    numTrails.as("num_trails"),
    count(lit(1)).as("num_events"),
    min(TrailSchema.TimeCol).as("min_time"),
    max(TrailSchema.TimeCol).as("max_time"),
    count(col(TrailSchema.TimeCol)).as("num_timed"))

  private def fromStats(r: Row, fields: Seq[String],
      bucketSeconds: Option[Long]): TrailInfo =
    TrailInfo(r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3),
      fields, bucketSeconds, r.getLong(4))

  /** One aggregation pass over a written trail table. The exact
    * distinct-uuid count is the only shuffle; count/min/max ride the same
    * scan. The finalizes whose trails span files use it after their
    * write (`finalizePartitioned`, `finalizeZOrdered`, `finalizeToTable`);
    * `finalizeTo` takes the same stats during its write ([[observed]]).
    * Never on the query path. */
  def compute(df: DataFrame, fields: Seq[String],
      bucketSeconds: Option[Long] = None): TrailInfo =
    fromStats(df.select(stats(count_distinct(col(TrailSchema.UuidCol))): _*)
      .head(), fields, bucketSeconds)

  /** The stats of `sorted` taken while it is written, so the writer reads
    * nothing back. `sorted` must be hash-partitioned on uuid and sorted
    * within partitions by (uuid, time, seq), as `finalizeTo` writes it:
    * the trail count is then one `row_number` window whose partitioning
    * and ordering the child already has, so it adds no exchange and no
    * sort. A trail is counted at its first row, and a null uuid is no
    * trail, which are `count_distinct`'s semantics in [[compute]].
    *
    * Returns the frame to write (same columns and rows as `sorted`) and a
    * function to call after the write. The metrics reach the driver
    * through the listener bus; if they have not arrived within
    * `ObservedWaitMs` (the bus dropped the event), the function falls
    * back to [[compute]] over `path`, the written table. */
  def observed(sorted: DataFrame, fields: Seq[String], path: String)
      : (DataFrame, () => TrailInfo) = {
    // `#` is outside the field-name charset, so no field is shadowed
    val rn = "#trail_row"
    val obs = Observation()
    val observedStats = stats(count(when(col(rn) === 1 &&
      col(TrailSchema.UuidCol).isNotNull, lit(1))))
    val out = sorted
      .withColumn(rn, row_number().over(Window
        .partitionBy(TrailSchema.UuidCol)
        .orderBy(TrailSchema.TimeCol, TrailSchema.SeqCol)))
      .observe(obs, observedStats.head, observedStats.tail: _*)
      .drop(rn)
    val spark = sorted.sparkSession
    (out, () =>
      try fromStats(Await.result(obs.future, ObservedWaitMs.millis), fields, None)
      catch {
        case _: TimeoutException =>
          System.err.println(s"[graft] the write's stats for $path did " +
            s"not arrive within $ObservedWaitMs ms; computing them from " +
            "the written table")
          compute(ParquetInputs.read(spark, path), fields)
      })
  }

  private final val ObservedWaitMs = 60000L

  /** Write the sidecar into `dir` (any Hadoop-visible filesystem).
    * Written to a temp name then renamed, so a crash mid-write leaves
    * either no sidecar or the previous complete one — never a truncated
    * file at the canonical name. */
  def write(spark: SparkSession, dir: String, info: TrailInfo): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(info.toJson.getBytes("UTF-8")) finally out.close()
    val path = new Path(dir, FileName)
    fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"could not move sidecar into place at $path")
  }

  /** Read the sidecar if present. Absent OR unreadable (a db finalized by
    * an older writer, a bare parquet dir, or a sidecar corrupted by a
    * failed copy) means callers fall back to scans — a bad sidecar must
    * never make an intact db unopenable. */
  def read(spark: SparkSession, dir: String): Option[TrailInfo] = {
    val path = new Path(dir, FileName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else try {
      val in = fs.open(path)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toString("UTF-8")
      } finally in.close()
      Some(fromJson(text))
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] ignoring unreadable metadata sidecar $path: ${e.getMessage}")
        None
    }
  }

  def fromJson(text: String): TrailInfo = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(text)
    def long(f: String): Long = (j \ f) match {
      case JInt(v) => v.longValue
      case JLong(v) => v
      case other => throw new IllegalArgumentException(s"bad info field $f: $other")
    }
    val fields = (j \ "fields") match {
      case JArray(vs) => vs.map { case JString(s) => s
        case other => throw new IllegalArgumentException(s"bad field name: $other") }
      case other => throw new IllegalArgumentException(s"bad fields: $other")
    }
    val bucket = (j \ "bucket_seconds") match {
      case JInt(v) => Some(v.longValue)
      case JLong(v) => Some(v)
      case _ => None
    }
    // Sidecars from before round 4 lack num_timed; -1 = unknown, which
    // consumers must treat as "cannot prove a non-null time exists".
    val numTimed = (j \ "num_timed") match {
      case JInt(v) => v.longValue
      case JLong(v) => v
      case _ => -1L
    }
    TrailInfo(long("num_trails"), long("num_events"),
      long("min_time"), long("max_time"), fields, bucket, numTimed)
  }
}
