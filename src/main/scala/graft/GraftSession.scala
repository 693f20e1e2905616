package graft

import org.apache.spark.sql.SparkSession

/** The one way this engine starts a Spark session: Bench, Verify, the CLI,
  * the tools and the tests all run the same config, so the oracle gate
  * checks the physical plans the bench times.
  *
  * AQE partition coalescing keeps Spark's defaults (parallelism-first):
  * size-first coalescing serializes this engine's CPU-dense, byte-light
  * reduce stages (OPTIMIZATION_r20.md §3). A deployment whose stages are
  * byte-proportional can still set those keys with `--conf`.
  *
  * graft's planner rules are not installed here: `AsOfJoin` and
  * `MetadataOnlyAgg` inject them lazily into whatever session runs them. */
object GraftSession {
  /** `local[$SPARK_GRAFT_CPUS]`, defaulting to every available core. */
  def localMaster: String = "local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString) + "]"

  def apply(master: String = localMaster): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark
  }
}
