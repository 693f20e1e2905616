package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.core.{ParquetInputs, TrailDBCons}
import graft.plans.MetadataOnlyAggRule

/** A parquet input's schema is inferred once and reused while the input
  * and the schema confs are unchanged; anything else reads as Spark does. */
class ParquetInputsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-inputs").resolve(name).toString

  private def partitionedDb(): String = {
    val path = tmp("db")
    val rows = (0 until 40).map(i =>
      (f"${i % 5}%032x", 1000L * i, s"e${i % 3}", i.toLong))
    new TrailDBCons(spark, Seq("event_type"))
      .add(rows.toDF("uuid", "time", "event_type", "seq"))
      .finalizePartitioned(path, secondsPerPartition = 10000L)
    path
  }

  test("a second read of an unchanged path starts no job and returns the same schema") {
    val path = tmp("plain")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    val (first, inferJobs) = jobsDuring(ParquetInputs.read(spark, path))
    assert(inferJobs >= 1, "the first read infers the schema")
    val (again, jobs) = jobsDuring(ParquetInputs.read(spark, path))
    assert(jobs === 0)
    assert(again.schema === first.schema)
    assert(again.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }

  test("a partitioned db keeps its _bucket partition column on a cached read") {
    val path = partitionedDb()
    val inferred = spark.read.parquet(path).schema
    ParquetInputs.read(spark, path)
    val (again, jobs) = jobsDuring(ParquetInputs.read(spark, path))
    assert(jobs === 0)
    assert(again.schema === inferred)
    assert(again.schema.fieldNames.last === "_bucket")
    assert(again.select("_bucket").distinct().count() === 4L)
  }

  test("overwriting the path with a different schema makes the next read infer again") {
    val path = tmp("over")
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(ParquetInputs.read(spark, path).columns.toSeq === Seq("id", "s"))
    Seq((1.5, 2L, 3L)).toDF("x", "y", "z").write.mode("overwrite").parquet(path)
    val (df, jobs) = jobsDuring(ParquetInputs.read(spark, path))
    assert(jobs >= 1)
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.columns.toSeq === Seq("x", "y", "z"))
  }

  test("flipping spark.sql.parquet.binaryAsString makes the next read infer again") {
    // Spark's own files carry their Spark schema, which inference prefers
    // over the conf; an un-annotated BINARY column from a plain parquet
    // writer is what binaryAsString decides
    val path = tmp("bin")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary b; required int64 n; }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$path/part-0.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("b", "k").append("n", 1L))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      assert(ParquetInputs.read(spark, path).schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = ParquetInputs.read(spark, path)
      assert(asString.schema("b").dataType === StringType)
      assert(asString.select("b").as[String].collect().toSeq === Seq("k"))
      spark.conf.set(key, "false")
      assert(ParquetInputs.read(spark, path).schema("b").dataType === BinaryType)
    } finally spark.conf.set(key, before)
  }

  test("finalizeTo seeds the schema a cold inference returns, so open starts no job") {
    def check(name: String, cons: TrailDBCons): Unit = {
      val path = tmp(name)
      cons.finalizeTo(path, 2)
      val cold = spark.read.parquet(path).schema
      val (seeded, jobs) = jobsDuring(ParquetInputs.read(spark, path).schema)
      assert(jobs === 0, s"$name: the read inferred")
      // StructField equality covers names, types, nullability and metadata
      assert(seeded === cold, name)
      val (db, openJobs) = jobsDuring(graft.core.TrailDB.open(spark, path))
      assert(openJobs === 0, s"$name: open ran $openJobs jobs")
      assert(db.df.schema === cold, name)
      // the seeded entry carries the confs of the write
      val key = "spark.sql.parquet.binaryAsString"
      val before = spark.conf.get(key)
      try {
        spark.conf.set(key, (!before.toBoolean).toString)
        val (flipped, flipJobs) = jobsDuring(ParquetInputs.read(spark, path))
        assert(flipJobs >= 1, s"$name: a flipped conf reused the seed")
        assert(flipped.schema === spark.read.parquet(path).schema, name)
      } finally spark.conf.set(key, before)
    }
    check("cons", new TrailDBCons(spark, Seq("a", "b")).add(
      (0 until 30).map(i => (f"${i % 4}%032x", 10L * i, s"x${i % 3}", null: String, i.toLong))
        .toDF("uuid", "time", "a", "b", "seq")))
    check("empty", new TrailDBCons(spark, Seq("a")))
  }

  test("a missing path raises Spark's own PATH_NOT_FOUND") {
    val path = tmp("absent")
    val plain = intercept[AnalysisException](spark.read.parquet(path))
    val ours = intercept[AnalysisException](ParquetInputs.read(spark, path))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(ours.getMessage === plain.getMessage)
  }

  test("MetadataOnlyAggRule still answers a cached read from the sidecar") {
    MetadataOnlyAggRule.registerWith(spark)
    val path = partitionedDb()
    ParquetInputs.read(spark, path)
    val (db, jobs) = jobsDuring(ParquetInputs.read(spark, path))
    assert(jobs === 0)
    val agg = db.agg(count(lit(1)).as("n"), max("time").as("t_max"))
    val plan = agg.queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"), plan)
    assert(!plan.contains("parquet"), s"scan survived:\n$plan")
    val row = agg.collect().head
    assert(row.getLong(0) === 40L)
    assert(agg.schema("t_max").dataType === LongType)
    assert(row.getLong(1) === 39000L)
  }
}
