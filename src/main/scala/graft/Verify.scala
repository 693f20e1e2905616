package graft
import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Extra args (local iteration
    // only) select a query subset.
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0); val outDir = args(1)
    val selected: Set[String] =
      if (args.length > 2) args.drop(2).toSet else SparkEntry.queries.keySet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries.filter(kv => selected.contains(kv._1))
        .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += ((name, Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql)(DefaultFormats))
    // Loud failure record: a query that throws above is silently ABSENT from
    // the driver's per-query compare (its parquet never exists), which in
    // round 7 let a broken trail-read path shrink the correctness gate from
    // 114 to 72 queries without any red signal. Dump the failures as a
    // sidecar the judge (and the builder's own sanity runs) can read, and
    // exit non-zero only via the summary line — the driver still gets every
    // query that DID succeed.
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      Serialization.write(failed.toMap)(DefaultFormats))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${SparkEntry.queries.size} " +
        s"queries FAILED: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
