package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.network.util.JavaUtils

/** Every entry point runs one session config: the factory's. */
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

  test("sessions are built only in GraftSession") {
    val needle = "SparkSession" + ".builder"
    def builders(root: String): Seq[Path] = {
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle)).toList
      finally files.close()
    }
    assert(builders("src/main/scala") ==
      Seq(Paths.get("src/main/scala/graft/GraftSession.scala")))
    assert(builders("src/test/scala").isEmpty)
  }
}
