package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.network.util.JavaUtils

/** Every entry point runs one session config, the factory's, and reads
  * parquet inputs one way. */
class GraftSessionSpec extends SparkSpec {
  test("the factory session carries the bench config and Spark's AQE defaults") {
    val conf = spark.conf
    def bytes(key: String) = JavaUtils.byteStringAsBytes(conf.get(key))
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(bytes("spark.sql.files.maxPartitionBytes") == (16L << 20))
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    // the explicit AQE settings Bench once carried equal these defaults
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(bytes("spark.sql.adaptive.coalescePartitions.minPartitionSize") == (1L << 20))
    assert(bytes("spark.sql.adaptive.advisoryPartitionSizeInBytes") == (64L << 20))
  }

  /** The .scala files under `root` whose text contains `needle`. */
  private def sourcesWith(root: String, needle: String): Seq[Path] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains(needle)).toList
    finally files.close()
  }

  test("sessions are built only in GraftSession") {
    val needle = "SparkSession" + ".builder"
    assert(sourcesWith("src/main/scala", needle) ==
      Seq(Paths.get("src/main/scala/graft/GraftSession.scala")))
    assert(sourcesWith("src/test/scala", needle).isEmpty)
  }

  test("parquet inputs are read only through ParquetInputs") {
    assert(sourcesWith("src/main/scala", ".read" + ".parquet(") ==
      Seq(Paths.get("src/main/scala/graft/core/ParquetInputs.scala")))
  }
}
