package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.sys.process._

import org.apache.spark.sql.functions._

/** Compression parity vs the reference engine (round-12 VERDICT item 3).
  *
  * Compression IS the reference's headline published number — ~8.8
  * bytes/event on the wikipedia-history corpus ("Zip-comparable",
  * doc/docs/tutorial.md:167-174, 5.8 GB / 663 M edits) — and until this
  * tool graft's bytes/event had never been measured against the C engine
  * on identical data. It builds the SAME event stream (the sf trails
  * fixture: uuid, time, event_type, props) as:
  *
  *  - a reference-engine db: `tools/refbin/tdb-make make` (built from the
  *    UNMODIFIED reference sources by tools/refdump/build_full.sh)
  *  - graft TdbWriter packages: bigram huffman / unigram huffman
  *    (--no-bigrams) / literal, and the v0 directory layout
  *  - graft's native parquet finalize (the production layout, for
  *    context — it is not the interchange format)
  *
  * and prints bytes + bytes/event for each, plus a cross-engine dump
  * check (the reference binary must read every graft package it is
  * sized against). Usage:
  *   runMain graft.tools.CompressionBench [sfDir] [workDir]
  */
object CompressionBench {

  private def dirBytes(p: Path): Long = {
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.list(p)
      try s.toArray.map(q => dirBytes(q.asInstanceOf[Path])).sum
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--throughput")) { throughput(args); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = Paths.get(
      args.lift(1).getOrElse("/tmp/graft-compression-bench"))
    val refBin = "tools/refbin/tdb-make"
    require(Files.exists(Paths.get(refBin)),
      s"$refBin missing — run tools/refdump/build_full.sh first")
    // Never recursively delete a directory this bench didn't create: a
    // mistyped workDir (e.g. a data directory) must refuse, not vanish.
    // A prior bench output is recognized by the marker file we drop at
    // creation; anything else non-empty is refused loudly.
    val marker = work.resolve(".graft-compression-bench")
    if (Files.exists(work)) {
      val empty = { val s = Files.list(work); try !s.findFirst().isPresent finally s.close() }
      require(empty || Files.exists(marker),
        s"$work exists, is non-empty, and has no ${marker.getFileName} " +
        "marker — refusing to rm -rf a directory this bench didn't create")
      Process(Seq("rm", "-rf", work.toString)).!
    }
    Files.createDirectories(work)
    Files.writeString(marker, "workdir of graft.tools.CompressionBench\n")

    val spark = graft.GraftSession()

    val ev = graft.core.EventSource.events(spark, sfDir)
    val df = graft.core.TrailDB.fromEvents(ev,
      uuidCol = "user_id", timeCol = "ts",
      fieldCols = Seq("event_type", "props"), seqCol = Some("event_id"))
      .df.localCheckpoint()
    val n = df.count()

    // identical input for the C engine: (uuid, time, seq)-ordered CSV,
    // comma-delimited (props contain spaces, never commas — checked)
    val rows = df.orderBy("uuid", "time", "seq")
      .select(col("uuid"), col("time"),
        coalesce(col("event_type"), lit("")).as("event_type"),
        coalesce(col("props"), lit("")).as("props"))
      .collect()
    rows.foreach(r => require(!r.getString(2).contains(",") &&
      !r.getString(3).contains(","), "comma in a field value"))
    val csv = work.resolve("events.csv")
    val w = Files.newBufferedWriter(csv)
    try rows.foreach { r =>
      w.write(s"${r.getString(0)},${r.getLong(1)},${r.getString(2)},${r.getString(3)}\n")
    } finally w.close()

    val results = scala.collection.mutable.LinkedHashMap[String, Long]()

    // 1. reference engine, default options (bigram model, dir output)
    val refDb = work.resolve("refdb")
    val rc = Process(Seq(refBin, "make", "-o", refDb.toString, "-c",
      "-i", csv.toString, "-d", ",",
      "-f", "uuid,time,event_type,props")).!
    require(rc == 0, s"reference tdb make exited $rc")
    results += "reference C dir (bigrams)" -> dirBytes(refDb)

    // 2. reference engine --no-bigrams
    val refDbNb = work.resolve("refdb-nobigrams")
    val rc2 = Process(Seq(refBin, "make", "-o", refDbNb.toString, "-c",
      "-i", csv.toString, "-d", ",", "--no-bigrams",
      "-f", "uuid,time,event_type,props")).!
    require(rc2 == 0, s"reference tdb make --no-bigrams exited $rc2")
    results += "reference C dir (no bigrams)" -> dirBytes(refDbNb)

    // 3-5. graft packages (v1 tar; tar adds ~0.1 B/event of member
    // headers at this scale — reported as-is)
    for ((label, compress, bigrams) <- Seq(
        ("graft pkg (bigrams)", true, true),
        ("graft pkg (no bigrams)", true, false),
        ("graft pkg (literal)", false, true))) {
      val p = work.resolve(label.replaceAll("[^a-z0-9]+", "-") + ".tdb")
      graft.sources.TdbWriter.writePackage(df,
        Seq("event_type", "props"), p.toString,
        compress = compress, bigrams = bigrams)
      results += label -> dirBytes(p)
      // the reference engine must read what it is being compared to
      val cn = Process(Seq(refBin, "dump", "-c", "-i", p.toString)).!!
        .linesIterator.count(_.nonEmpty)
      require(cn.toLong == n, s"$label: C dump rows $cn != $n")
    }

    // 6. graft v0 directory
    val v0 = work.resolve("graft-v0dir")
    graft.sources.TdbWriter.writeV0Directory(df,
      Seq("event_type", "props"), v0.toString)
    results += "graft v0 dir (bigrams)" -> dirBytes(v0)

    // 7. graft native parquet finalize (production layout, context only)
    val pq = work.resolve("graft-parquet")
    new graft.core.TrailDBCons(spark, Seq("event_type", "props"))
      .add(df).finalizeTo(pq.toString, 8)
    results += "graft parquet db" -> dirBytes(pq)

    // cross-engine row-level agreement on the reference-made db: graft's
    // reader returns exactly n rows from the C-engine-built directory
    val back = spark.read.format("tdb").load(refDb.toString).count()
    require(back == n, s"graft read of C db: $back != $n")

    println(f"%ns-- compression parity at $sfDir ($n%d events) --")
    results.foreach { case (k, b) =>
      println(f"$k%-30s ${b}%10d bytes  ${b.toDouble / n}%8.2f B/event")
    }
    val json = results.map { case (k, b) =>
      s""""${k.replaceAll("[^a-zA-Z0-9]+", "_")}":${b.toDouble / n}"""
    }.mkString(",")
    println(s"""{"metric":"bytes_per_event","n":$n,$json}""")
    spark.stop()
  }

  /** `--throughput [factor]` (default 128): the head-to-head DECODE
    * comparison against the reference's OWN benchmark harness
    * (util/traildb_bench.c `decode-all`, the manual timing tool
    * BASELINE.md cites — built by tools/refdump/build_bench.sh). Both
    * engines decode the SAME graft-written package: the sf0.1 trails
    * replicated factor× by uuid shift, every event of every trail, all
    * fields. The C side is a full process wall-clock (mmap + decode —
    * its startup is microscopic); the graft side is a warm full scan
    * (`toRdd.count` over all columns) so JVM/Spark startup is excluded
    * on both sides' own terms. min-of-2 each. */
  private def throughput(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = pos.lift(1).map(_.toInt).getOrElse(128)
    val benchBin = "tools/refbin/tdb-bench"
    if (!Files.exists(Paths.get(benchBin)))
      Process(Seq("sh", "tools/refdump/build_bench.sh")).!
    require(Files.exists(Paths.get(benchBin)),
      s"$benchBin missing — run tools/refdump/build_bench.sh first")
    val spark = graft.GraftSession()
    // the reader's parallelism tracks maxPartitionBytes like a parquet
    // scan (round-8 decode ladder): 8 MB splits the ~220 MB package into
    // enough tasks to keep 32 cores busy
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")

    val ev = graft.core.EventSource.events(spark, sfDir)
    val maxU = ev.agg(max("user_id")).head().getLong(0) + 1L
    val big = (0 until factor).map(i =>
        ev.withColumn("user_id", col("user_id") + lit(i * maxU))
          .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
      .reduce(_.unionByName(_))
    // localCheckpoint: the same input-materialization convention as the
    // compression leg (line ~70) — the C side's input is a materialized
    // package on disk, so graft's timed legs start from materialized
    // rows, not a lazy 128-way-union recompute chain.
    val df = graft.core.TrailDB.fromEvents(big, "user_id", "ts",
      Seq("event_type", "props"), Some("event_id")).df.localCheckpoint()
    val n = df.count()
    val pkg = s"/tmp/graft-throughput-$factor.tdb"
    val t0 = System.nanoTime()
    graft.sources.TdbWriter.writePackage(df,
      Seq("event_type", "props"), pkg)
    val wWrite = (System.nanoTime() - t0) / 1e9

    def timeOf(f: => Unit): Double = {
      val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
    }
    def min2(f: => Unit): Double = Seq(timeOf(f), timeOf(f)).min
    val cSec = min2 {
      val rc = Process(Seq(benchBin, "decode-all", pkg)).!
      require(rc == 0, s"tdb-bench exited $rc")
    }
    val scan = spark.read.format("tdb").load(pkg)
    scan.queryExecution.toRdd.count() // warm (codegen, file index)
    val gSec = min2 { require(scan.queryExecution.toRdd.count() == n) }

    // the harness's `decode <field>` twin: one projected column — the
    // reader's pruneColumns means graft decodes ONLY event_type items
    val cProjSec = min2 {
      val rc = Process(Seq(benchBin, "decode", pkg, "event_type")).!
      require(rc == 0, s"tdb-bench decode exited $rc")
    }
    val proj = spark.read.format("tdb").load(pkg).select("event_type")
    proj.queryExecution.toRdd.count()
    val gProjSec = min2 { require(proj.queryExecution.toRdd.count() == n) }

    // ENCODE side: the C harness's `recode` (decode + re-encode the
    // whole db through tdb_cons, single-threaded) vs graft's two write
    // paths — the driver-side interchange package writer (wWrite above)
    // and the PRODUCTION distributed parquet finalize.
    val cRecodeSec = timeOf {
      val rc = Process(Seq(benchBin, "recode", "/tmp/graft-crecode-out",
        pkg, "event_type", "props")).!
      require(rc == 0, s"tdb-bench recode exited $rc")
    }
    val gFinalizeSec = timeOf {
      new graft.core.TrailDBCons(spark, Seq("event_type", "props"))
        .add(df).finalizeTo(s"/tmp/graft-finalize-$factor", 32)
    }

    println(f"-- decode throughput, $n%d events, package $pkg (written in $wWrite%.1f s) --")
    println("| engine | decode-all wall | events/s | decode event_type | events/s |")
    println("|---|---|---|---|---|")
    println(f"| reference C (tdb-bench, 1 thread) | $cSec%.2f s | ${n / cSec / 1e6}%.1f M/s " +
      f"| $cProjSec%.2f s | ${n / cProjSec / 1e6}%.1f M/s |")
    println(f"| graft tdb reader (${spark.sparkContext.master}) | $gSec%.2f s | ${n / gSec / 1e6}%.1f M/s " +
      f"| $gProjSec%.2f s | ${n / gProjSec / 1e6}%.1f M/s |")
    println("| encode path | wall | events/s |")
    println("|---|---|---|")
    println(f"| reference C recode (1 thread) | $cRecodeSec%.2f s | ${n / cRecodeSec / 1e6}%.2f M/s |")
    println(f"| graft writePackage (driver-side export) | $wWrite%.2f s | ${n / wWrite / 1e6}%.2f M/s |")
    println(f"| graft finalizeTo (distributed parquet, production) | $gFinalizeSec%.2f s | ${n / gFinalizeSec / 1e6}%.2f M/s |")
    println(f"""{"metric":"decode_events_per_sec","n":$n,"c":${n / cSec},"graft":${n / gSec},"c_proj":${n / cProjSec},"graft_proj":${n / gProjSec},"c_recode":${n / cRecodeSec},"graft_pkg_write":${n / wWrite},"graft_finalize":${n / gFinalizeSec}}""")
    spark.stop()
  }
}
