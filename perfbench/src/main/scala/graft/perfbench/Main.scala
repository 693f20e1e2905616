package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up, run the workload in a closed loop
  * with one client for the given number of seconds, and write a JSON
  * record of every execution. `perfbench/run.py` builds this, launches it
  * and turns the record into metrics.
  *
  * {{{
  * Main --workload queries|tdb_storage --seed N
  *      --seconds S --trace 0|1 --work DIR --out FILE --inputs DIR
  *      --corpus DIR --sf X --storage-events N
  * }}}
  *
  * Query rows run exactly as `graft.Bench` runs them: the cache is
  * cleared, the body builds the frame, and the frame's full physical plan
  * executes through `queryExecution.toRdd`. With `--trace 1` the same
  * execution is split into spans from outside the program: the body
  * (build), the frame's analysis, optimization, planning and execution,
  * and the Spark jobs each phase caused. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, inputs: Path, corpus: Path,
      sf: Double, storageEvents: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath,
      Paths.get(req("out")).toAbsolutePath,
      Paths.get(req("inputs")).toAbsolutePath, Paths.get(req("corpus")).toAbsolutePath,
      req("sf").toDouble, req("storage-events").toLong)
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      Workloads.rows(o.workload) // rejects an unknown workload before any work
      val record = new Run(o).execute()
      Files.write(o.out, org.json4s.jackson.Serialization.write(record)(
        org.json4s.DefaultFormats).getBytes("UTF-8"))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 3
    }
    // Ends threads a query may have left behind.
    System.exit(code)
  }
}

object Run {
  /** Timed passes every run makes, whatever `--seconds` says: three, so a
    * row's median leaves out its slowest execution. */
  val MinPasses = 3

  /** Decodes of each kind (all fields, one field) of the storage
    * workload's package per cycle: a package is written once and read many
    * times. */
  val Reads = 4
}

final class Run(o: Main.Opts) {
  private val tracer = new Tracer(o.trace)
  private val recorder = new Recorder
  private var spark: SparkSession = _
  private val rows = Workloads.rows(o.workload)
  private val isStorage = rows.isEmpty
  private val fields =
    if (isStorage) Seq("kind", "item") else Seq("event_type", "props")
  private val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextExec = 0
  private var checksumSec = 0.0
  private val cores = Runtime.getRuntime.availableProcessors

  private def sec(fromMs: Double): Double = (tracer.nowMs - fromMs) / 1e3

  /** The session `graft.Bench` builds, on `local[cores]`, with local
    * directories inside the work directory. */
  private def session(): SparkSession = {
    val cpus = cores.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1000000L).selectExpr("sum(id)").collect()
    s.range(1000L).repartition(8).count()
    if (o.trace) {
      s.sparkContext.addSparkListener(recorder)
      s.streams.addListener(recorder.streams)
    }
    s
  }

  def execute(): Map[String, Any] = {
    val runSpan = tracer.reserve()
    val t0 = tracer.nowMs
    spark = session()
    val sessionS = sec(t0)
    tracer.add("setup.session", runSpan, t0, tracer.nowMs)

    // Inputs are the benchmark's, not the program's: they are generated
    // once into a cache directory and reused by later runs.
    val t1 = tracer.nowMs
    val tables = if (isStorage) Map.empty[String, Long] else cached(o.inputs) { dir =>
      DataGen.tables(spark, dir, o.sf, 42L)
    }
    val corpusRows = if (!isStorage) Map.empty[String, Long] else cached(o.corpus) { dir =>
      DataGen.trailCorpus(spark, o.storageEvents, o.seed)
        .write.parquet(s"$dir/events.parquet")
      Map("events" -> spark.read.parquet(s"$dir/events.parquet").count())
    }
    val corpus =
      if (isStorage) spark.read.parquet(s"${o.corpus}/events.parquet") else null
    val corpusSum = if (isStorage) Checksum.ofTrails(corpus, fields) else null
    val inputsS = sec(t1)
    tracer.add("setup.inputs", runSpan, t1, tracer.nowMs)

    // Set-up: the first execution of every row, or one storage cycle. It
    // runs the same plans as the timed passes, so it builds the program's
    // per-input state (fixtures built on first use) and pays class loading,
    // code generation and JIT compilation. Its outputs are the ones checked
    // in full; timed executions are checked by row count.
    val t2 = tracer.nowMs
    if (isStorage) cycle(corpus, 0, runSpan, timed = false, check = true)
    else permutation(0).foreach(q => execQuery(q, 0, runSpan, timed = false))
    val warmS = sec(t2) - checksumSec
    tracer.add("setup.warm_pass", runSpan, t2, tracer.nowMs)
    if (o.trace) { recorder.quiesce(spark.sparkContext, 60000); recorder.reset() }

    Ambient.resetPeaks()
    val gc0 = Ambient.gcMs
    val jit0 = Ambient.jitMs
    val loopStart = tracer.nowMs
    // Whole passes only, at least MinPasses, so every row has the same
    // number of samples in every run; more passes while time is left. A
    // pass count that varies from run to run would tie the medians to it,
    // so `--seconds` is best kept below what MinPasses take.
    var pass = 1
    while (pass <= Run.MinPasses ||
        tracer.nowMs < loopStart + o.seconds * 1e3) {
      val ps = tracer.nowMs
      val passSpan = tracer.reserve()
      if (isStorage) cycle(corpus, pass, passSpan, timed = true, check = false)
      else permutation(pass).foreach(q => execQuery(q, pass, passSpan, timed = true))
      tracer.addReserved(passSpan, "pass", runSpan, ps, tracer.nowMs, Map("pass" -> pass))
      pass += 1
    }
    val loopS = sec(loopStart)
    val jvm = Map("gc_s" -> (Ambient.gcMs - gc0) / 1e3,
      "jit_ms" -> (Ambient.jitMs - jit0).toDouble,
      "heap_peak_mb" -> Ambient.heapPeakMb)
    tracer.addReserved(runSpan, "run", -1, t0, tracer.nowMs)
    spark.stop()
    // Measured with the session stopped: what the program keeps across
    // queries, without Spark's per-job status records.
    val retained = Ambient.retainedHeapMb()

    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> cores, "seconds" -> o.seconds, "sf" -> o.sf,
      "rows" -> rows, "table_rows" -> tables, "corpus_rows" -> corpusRows,
      "corpus_checksum" -> Option(corpusSum).map(_.toMap),
      "setup" -> Map("session_s" -> sessionS,
        "inputs_s" -> inputsS, "warm_pass_s" -> warmS),
      "loop_s" -> loopS, "passes" -> (pass - 1), "checksum_s" -> checksumSec,
      "executions" -> execs.toList, "cycles" -> cycles.toList,
      "jvm" -> jvm, "retained_heap_mb" -> retained,
      "spans" -> tracer.all)
  }

  private def permutation(pass: Int): Seq[String] =
    new Random(o.seed * 1000003L + pass).shuffle(rows)

  /** Runs `make` into a fresh directory and publishes it as `dir`, unless
    * an earlier run already has. Returns the row counts `make` reported. */
  private def cached(dir: Path)(make: String => Map[String, Long]): Map[String, Long] = {
    val ready = dir.resolve("_READY")
    if (!Files.isRegularFile(ready)) {
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-${ProcessHandle.current.pid}")
      deleteTree(tmp)
      val counts = make(tmp.toString)
      Files.write(tmp.resolve("_READY"), counts.map { case (k, v) => s"$k $v" }
        .mkString("\n").getBytes("UTF-8"))
      deleteTree(dir)
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    new String(Files.readAllBytes(ready), "UTF-8").split("\n").filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(" "); k -> v.toLong }.toMap
  }

  private def dirBytes(p: Path): Long =
    if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.endsWith(".crc"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  /** Phase of a job or stage: the benchmark's job group names it; work a
    * program thread started under another group goes by submission time. */
  private def phaseOf(id: Int, windows: Seq[(String, Double, Double)])(
      group: String, submitMs: Long): Option[String] = {
    val prefix = s"pb:$id:"
    if (group != null && group.startsWith(prefix)) Some(group.stripPrefix(prefix))
    else {
      val t = tracer.fromEpochMs(submitMs)
      windows.find { case (_, a, b) => t >= a - 1 && t <= b + 1 }.map(_._1)
        .orElse(Some("other"))
    }
  }

  private def execQuery(row: String, pass: Int, parent: Int,
      timed: Boolean): Unit = {
    val dir = o.inputs.toString
    val fn = graft.SparkEntry.queries(row)
    val id = nextExec
    nextExec += 1
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val gc0 = Ambient.gcMs
    val jit0 = Ambient.jitMs
    val load1 = Ambient.load1
    val qSpan = tracer.reserve()
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def phase[T](name: String)(body: => T): T = {
      if (o.trace) sc.setJobGroup(s"pb:$id:$name", row, interruptOnCancel = false)
      val a = tracer.nowMs
      try body finally phases += ((name, a, tracer.nowMs))
    }
    var df: DataFrame = null
    var n = -1L
    var error: String = null
    var sum: Checksum.Sum = null
    // Every execution runs the frame's plan through `queryExecution.toRdd`
    // as graft.Bench does; the set-up execution hashes the rows it counts.
    def action(d: DataFrame): Long =
      if (timed) d.queryExecution.toRdd.count()
      else { sum = Checksum.of(d); sum.rows }
    val start = tracer.nowMs
    try {
      if (o.trace) {
        df = phase("build")(fn(spark, dir))
        val qe = df.queryExecution
        phase("optimization")(qe.optimizedPlan)
        phase("planning")(qe.executedPlan)
        n = phase("exec")(action(df))
      } else {
        df = fn(spark, dir)
        n = action(df)
      }
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    } finally if (o.trace) sc.clearJobGroup()
    val end = tracer.nowMs
    val rec = mutable.LinkedHashMap[String, Any](
      "exec" -> id, "row" -> row, "family" -> Workloads.family(row),
      "pass" -> pass, "timed" -> timed, "start_s" -> start / 1e3,
      "wall_s" -> (end - start) / 1e3, "rows" -> n,
      "gc_ms" -> (Ambient.gcMs - gc0), "jit_ms" -> (Ambient.jitMs - jit0),
      "load1" -> load1)
    if (o.trace) {
      try {
        recorder.quiesce(sc, 60000)
        traceQuery(id, row, qSpan, parent, start, end, df, phases.toSeq, rec)
      } catch {
        case e: Throwable if error == null =>
          error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      recorder.reset()
    }
    if (sum != null) rec("checksum") = sum.toMap
    rec("ok") = error == null
    rec("error") = error
    if (error != null) System.err.println(s"[perfbench] $row (pass $pass) failed: $error")
    execs += rec.toMap
  }

  private def traceQuery(id: Int, row: String, qSpan: Int, parent: Int,
      start: Double, end: Double, df: DataFrame,
      phases: Seq[(String, Double, Double)],
      rec: mutable.Map[String, Any]): Unit = {
    val totals = recorder.totals(phaseOf(id, phases))
    val jobs = recorder.jobSpans(phaseOf(id, phases))
    val stream = recorder.streamingBetween(tracer.epochMsOf(start), tracer.epochMsOf(end))
    val attrs = Map("exec" -> id, "row" -> row, "family" -> Workloads.family(row))
    tracer.addReserved(qSpan, "query", parent, start, end, attrs)
    val secs = mutable.LinkedHashMap.empty[String, Double]
    phases.foreach { case (name, a, b) =>
      val pid = tracer.add(name, qSpan, a, b, attrs ++ totals.getOrElse(name, Map.empty))
      secs(name) = (b - a) / 1e3
      jobs.filter(_._1 == name).foreach { case (_, js, je) =>
        tracer.add("job", pid, tracer.fromEpochMs(js), tracer.fromEpochMs(je), attrs)
      }
      if (name == "build" && df != null) {
        // The returned frame's analysis ran inside the body; Spark's own
        // planning tracker has its start and end.
        df.queryExecution.tracker.phases.get("analysis").foreach { p =>
          val ps = tracer.fromEpochMs(p.startTimeMs).max(a)
          val pe = tracer.fromEpochMs(p.endTimeMs).min(b).max(ps)
          tracer.add("analysis", pid, ps, pe, attrs)
          secs("analysis") = (pe - ps) / 1e3
        }
      }
    }
    // Self times: the body without the frame's analysis, and whatever of
    // the execution's wall time no phase covers.
    secs("build_self") = secs.getOrElse("build", 0.0) - secs.getOrElse("analysis", 0.0)
    secs("remainder") = (end - start) / 1e3 -
      Seq("build", "optimization", "planning", "exec").map(secs.getOrElse(_, 0.0)).sum
    rec("phases") = secs.toMap
    if (stream("trigger_s") > 0 || stream("start_s") > 0)
      tracer.add("streaming", qSpan, start, end, attrs ++ stream)
    rec("layers") = totals
    rec("streaming") = stream
  }

  /** One storage cycle over `input`: ingest (TrailDBCons.add→finalizeTo),
    * export (TdbWriter.writePackage), `Run.Reads` decodes of all fields and of
    * one field through the `tdb` source, and recode (package → package).
    * Each op is one execution of the row named after it. With `check`, the
    * ingested, decoded and recoded events are checked against the input. */
  private def cycle(input: DataFrame, pass: Int, parent: Int, timed: Boolean,
      check: Boolean): Unit = {
    val root = o.work.resolve(s"storage/p$pass")
    val dbPath = root.resolve("db").toString
    val pkg = root.resolve("pkg.tdb").toString
    val pkg2 = root.resolve("recoded.tdb").toString
    Files.createDirectories(root)
    val sc = spark.sparkContext
    var error: String = null
    def op(name: String)(body: => Any): Unit = if (error == null) {
      spark.catalog.clearCache()
      val id = nextExec
      nextExec += 1
      val gc0 = Ambient.gcMs
      val jit0 = Ambient.jitMs
      val load1 = Ambient.load1
      if (o.trace) sc.setJobGroup(s"pb:$id:exec", name, interruptOnCancel = false)
      val a = tracer.nowMs
      // Decodes return their row count, checked against the input.
      val rows = try body match { case n: Long => n; case _ => -1L }
        catch { case e: Throwable =>
          error = s"${e.getClass.getName}: ${e.getMessage}".take(500); -1L }
        finally if (o.trace) sc.clearJobGroup()
      val b = tracer.nowMs
      val rec = mutable.LinkedHashMap[String, Any](
        "exec" -> id, "row" -> name, "family" -> "storage", "pass" -> pass,
        "timed" -> timed, "start_s" -> a / 1e3, "wall_s" -> (b - a) / 1e3,
        "rows" -> rows,
        "gc_ms" -> (Ambient.gcMs - gc0), "jit_ms" -> (Ambient.jitMs - jit0),
        "load1" -> load1, "ok" -> (error == null), "error" -> error)
      if (o.trace) {
        recorder.quiesce(sc, 60000)
        val totals = recorder.totals(phaseOf(id, Seq(("exec", a, b))))
        recorder.reset()
        tracer.add(s"storage.$name", parent, a, b,
          totals.getOrElse("exec", Map.empty) ++ Map("exec" -> id, "row" -> name))
        rec("layers") = totals
      }
      execs += rec.toMap
    }
    val tdbFields = fields
    op("ingest") {
      new graft.core.TrailDBCons(spark, tdbFields).add(input).finalizeTo(dbPath)
    }
    op("export") {
      graft.sources.TdbWriter.writePackage(spark.read.parquet(dbPath), tdbFields, pkg)
    }
    (1 to Run.Reads).foreach { _ =>
      op("decode_all") {
        spark.read.format("tdb").load(pkg).queryExecution.toRdd.count()
      }
      op("decode_field") {
        spark.read.format("tdb").load(pkg).select(tdbFields.last)
          .queryExecution.toRdd.count()
      }
    }
    op("recode") {
      graft.sources.TdbWriter.writePackage(
        spark.read.format("tdb").load(pkg), tdbFields, pkg2)
    }
    val checks = mutable.LinkedHashMap.empty[String, Any]
    if (error == null && check) {
      val c0 = tracer.nowMs
      try {
        checks("ingest") = Checksum.ofTrails(spark.read.parquet(dbPath), tdbFields).toMap
        checks("decode") = Checksum.ofTrails(spark.read.format("tdb").load(pkg), tdbFields).toMap
        checks("recode") = Checksum.ofTrails(spark.read.format("tdb").load(pkg2), tdbFields).toMap
      } catch { case e: Throwable =>
        error = s"checksum: ${e.getClass.getName}: ${e.getMessage}".take(500) }
      checksumSec += sec(c0)
    }
    if (error != null) System.err.println(s"[perfbench] storage cycle (pass $pass) failed: $error")
    cycles += Map("pass" -> pass, "timed" -> timed, "checks" -> checks.toMap,
      "ok" -> (error == null), "error" -> error) ++ (if (error == null) Map(
        "db_bytes" -> dirBytes(Paths.get(dbPath)),
        "package_bytes" -> dirBytes(Paths.get(pkg))) else Map.empty)
    deleteTree(root)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
