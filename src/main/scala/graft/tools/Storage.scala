package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.core.{ParquetInputs, TrailDB, TrailDBCons}

/** Storage-footprint experiment against the reference's published
  * compression baseline (BASELINE.md: ~8.8 bytes/event on the Wikipedia
  * corpus; "comparable to compressing the data using Zip",
  * doc/docs/technical_overview.md:277-283). Measures the same event corpus
  * four ways: raw CSV dump, gzipped CSV dump (the "Zip" comparator),
  * finalized trail-sorted Parquet (zstd — the deployment layout), and the
  * identical Parquet WITHOUT trail clustering (what the uuid sort buys:
  * same-trail runs make dictionary/RLE pages compress like the reference's
  * edge-encoding). Usage: runMain graft.tools.Storage [sfDir]
  */
object Storage {
  private def dirBytes(p: java.io.File): Long =
    if (p.isFile) p.length
    else Option(p.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession()

    val ev = graft.core.EventSource.events(spark, sfDir)
    val db = TrailDB.fromEvents(ev, uuidCol = "user_id", timeCol = "ts",
      fieldCols = Seq("event_type", "props"), seqCol = Some("event_id"))
    val n = db.df.count()
    val base = java.nio.file.Files.createTempDirectory("graft-storage").toString

    db.df.write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$base/csv")
    db.df.write.mode(SaveMode.Overwrite).option("header", "true")
      .option("compression", "gzip").csv(s"$base/csvgz")
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    new TrailDBCons(spark, Seq("event_type", "props"))
      .append(db).finalizeTo(s"$base/db")
    db.df.orderBy(rand(7)).write.mode(SaveMode.Overwrite).parquet(s"$base/shuffled")

    def report(label: String, path: String): Unit = {
      val b = dirBytes(new java.io.File(path))
      println(f"| $label | ${b / 1048576.0}%.1f MiB | ${b.toDouble / n}%.1f B/event |")
    }
    println(s"events: $n  (base: $base)")
    println("| layout | size | bytes/event |")
    println("|---|---|---|")
    report("CSV dump (raw)", s"$base/csv")
    report("CSV dump (gzip)", s"$base/csvgz")
    report("trail-sorted Parquet (zstd, finalized)", s"$base/db")
    report("unsorted Parquet (zstd)", s"$base/shuffled")

    // ---- layout pruning matrix: bytes actually read per predicate ----
    // Small row groups so min/max pruning has granularity to work with at
    // this corpus size (production defaults give the same effect at real
    // row-group counts).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", 64 * 1024)
    // testdata uuids are %032x of an integer: the leading digits are a
    // constant zero prefix, so the ORDER lives in the trailing digits —
    // pass them as the curve ordinal (the default uses the leading prefix,
    // correct for real uuids).
    new TrailDBCons(spark, Seq("event_type", "props"))
      .append(db).finalizeZOrdered(s"$base/zdb", timeBucketSecs = 3600L,
        uuidOrdinal = Some(conv(substring(col("uuid"), 26, 7), 16, 10)
          .cast("long")))
    // GLOBALLY range-partitioned uuid sort — the fair single-dimension
    // comparator: every file covers a disjoint uuid range, so uuid
    // predicates prune maximally. (finalizeTo hash-partitions for
    // co-location: every file spans the full uuid range and file-level
    // min/max stats prune nothing — the wrong layout for this matrix.)
    db.df.repartitionByRange(32, col("uuid"))
      .sortWithinPartitions("uuid", "time", "seq")
      .write.mode(SaveMode.Overwrite).parquet(s"$base/udb")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    // the read (and its schema inference, the first time) happens before
    // the listener starts, so every cell counts the filtered scan alone
    def measure(path: String, pred: org.apache.spark.sql.Column): Long = {
      val df = ParquetInputs.read(spark, path).filter(pred)
      val sc = spark.sparkContext
      org.apache.spark.graft.Listeners.waitUntilEmpty(sc, 60000)
      bytesRead.set(0L)
      sc.addSparkListener(listener)
      try {
        df.count()
        org.apache.spark.graft.Listeners.waitUntilEmpty(sc, 60000)
      } finally sc.removeSparkListener(listener)
      bytesRead.get()
    }
    val (tMin, tMax) = {
      val r = db.df.agg(min("time"), max("time")).head()
      (r.getLong(0), r.getLong(1))
    }
    val uuids = db.df.select("uuid").distinct().orderBy("uuid")
      .collect().map(_.getString(0))
    // narrow uuid slice (4% — a whitelist-style lookup) and a broad half-
    // space slice (cohort-style), each alone and crossed with a 10% time
    // window: the mixed-predicate rows are where a single-dimension sort
    // has nothing left to prune and the curve keeps cutting.
    val (uLo, uHi) = (uuids.head, uuids(uuids.length / 25))
    val uMid = uuids(uuids.length / 2)
    val tLo = tMin + (tMax - tMin) / 2
    val tHi = tLo + (tMax - tMin) / 10
    val preds = Seq(
      "uuid 4%" -> (col("uuid") >= uLo && col("uuid") <= uHi),
      "time 10%" -> (col("time") >= tLo && col("time") < tHi),
      "uuid 4% ∧ time 10%" -> (col("uuid") >= uLo && col("uuid") <= uHi &&
        col("time") >= tLo && col("time") < tHi),
      "uuid 50% ∧ time 10%" -> (col("uuid") <= uMid &&
        col("time") >= tLo && col("time") < tHi))
    println("\n| predicate | uuid-sorted | z-ordered (uuid,time) |")
    println("|---|---|---|")
    preds.foreach { case (label, p) =>
      val u = measure(s"$base/udb", p)
      val z = measure(s"$base/zdb", p)
      println(f"| $label | ${u / 1024.0}%.0f KiB | ${z / 1024.0}%.0f KiB (${z.toDouble / u}%.2fx) |")
    }
    spark.stop()
  }
}
