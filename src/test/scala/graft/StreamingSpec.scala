package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.agg.{Sessionize, TrailEvent, TrailSummaryAggregator}
import graft.streaming.StreamSessions

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming session_window agrees with the batch window-lag sessionizer") {
    // batch events with two sessions for one uuid (gap > 30 min)
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    val rows = Seq(
      ("u1", base), ("u1", base + 60), ("u1", base + 120),
      ("u1", base + 10000), ("u1", base + 10060),
      ("u2", base + 5))
    val dir = Files.createTempDirectory("graft-stream")
    val src = dir.resolve("src").toString
    rows.toDF("uuid", "epoch")
      .withColumn("ts", col("epoch").cast("timestamp")).drop("epoch")
      .write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    // complete mode: emit every session's current state (append would hold
    // back sessions the watermark hasn't closed yet).
    val q = StreamSessions.sessionCounts(stream, gap = "30 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sess")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // Compare against the batch sessionizer.
    val batch = Sessionize.sessionCounts(
      rows.toDF("uuid", "time").withColumn("seq", lit(0L)), 1800L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("num_sessions")).toMap
    assert(batch === Map("u1" -> 2L, "u2" -> 1L))

    val streamed = spark.sql("SELECT uuid, count(*) n FROM sess GROUP BY uuid")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === Map("u1" -> 2L, "u2" -> 1L))
  }

  test("flatMapGroupsWithState keeps per-trail session state across micro-batches") {
    import graft.streaming.StreamSessions.{TrailState, TrailUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[TrailUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[TrailState]

    val dir = Files.createTempDirectory("graft-state")
    val src = dir.resolve("src").toString
    // batch 1: two events, one session
    Seq(("u1", 100L), ("u1", 200L)).toDF("uuid", "time").write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .as[(String, Long)]
    val q = StreamSessions.statefulTrailStats(stream, gapSeconds = 1800L)
      .writeStream.outputMode("append").format("memory").queryName("tstats")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // batch 2: a later event past the gap → second session, state carried over
    Seq(("u1", 90000L)).toDF("uuid", "time").write.mode("append").parquet(src)
    val q2 = StreamSessions.statefulTrailStats(stream, gapSeconds = 1800L)
      .writeStream.outputMode("append").format("memory").queryName("tstats2")
      .option("checkpointLocation", dir.resolve("ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)

    val last = spark.sql(
      "SELECT * FROM tstats2 ORDER BY nEvents DESC LIMIT 1").as[TrailUpdate].head()
    assert(last.uuid === "u1")
    assert(last.nEvents === 3L)
    assert(last.nSessions === 2L)
    assert(last.firstTime === 100L && last.lastTime === 90000L)

    // batch 3: a LATE event earlier than everything seen — firstTime must
    // move down (min), symmetric to lastTime's max. Fresh checkpoint +
    // one-file micro-batches so the late file really crosses a boundary
    // (a memory-sink query cannot resume the old checkpoint).
    Seq(("u1", 10L)).toDF("uuid", "time").write.mode("append").parquet(src)
    val stream3 = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long)]
    val q3 = StreamSessions.statefulTrailStats(stream3, gapSeconds = 1800L)
      .writeStream.outputMode("append").format("memory").queryName("tstats3")
      .option("checkpointLocation", dir.resolve("ck3").toString)
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(60000)
    val late = spark.sql(
      "SELECT * FROM tstats3 ORDER BY nEvents DESC LIMIT 1").as[TrailUpdate].head()
    assert(late.nEvents === 4L)
    assert(late.firstTime === 10L && late.lastTime === 90000L)
  }

  test("streaming dedup keeps first arrival per content key, bounded by watermark") {
    val dir = Files.createTempDirectory("graft-sdedup")
    val src = dir.resolve("src").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    Seq(
      ("doc a", base), ("doc a", base + 60),       // dup within watermark
      ("doc b", base + 10), ("doc c", base + 20),
      ("doc b", base + 30))
      .toDF("text", "epoch")
      .withColumn("ts", col("epoch").cast("timestamp")).drop("epoch")
      .write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamSessions.streamingDedup(stream, Seq("text"), watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sdedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val kept = spark.sql("SELECT text FROM sdedup")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(kept === Seq("doc a", "doc b", "doc c"))
  }

  test("exact streaming keep-first: cross-batch dups drop forever, one kept id per key") {
    // three source files forced into three micro-batches in mtime order;
    // key K appears in batches 1, 2 and 3 — only batch 1's minimum id
    // may survive (never re-admitted, unlike the watermark-bounded form)
    val dir = Files.createTempDirectory("graft-skeepfirst")
    val src = dir.resolve("src")
    Files.createDirectories(src)
    def writeFile(name: String, rows: Seq[(String, String)], mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-skf-part")
      rows.toDF("key", "id").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var found: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        if (p.toString.endsWith(".parquet")) found = p
      }
      val dst = src.resolve(name)
      Files.copy(found, dst)
      dst.toFile.setLastModified(mtime)
    }
    writeFile("b1.parquet",
      Seq(("K", "d07"), ("K", "d03"), ("A", "d01")), 1000000L)
    writeFile("b2.parquet",
      Seq(("K", "d00"), ("B", "d05")), 2000000L)   // d00 < d03 but LATE
    writeFile("b3.parquet",
      Seq(("K", "d09"), ("B", "d99"), ("C", "d08")), 3000000L)

    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = graft.streaming.StreamDedup.keepFirst(
        stream.as[(String, String)])
      .writeStream.outputMode("append").format("memory").queryName("skf")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val kept = spark.sql("SELECT key, id FROM skf")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // K: batch-1 min id d03 (d00 arrives later and must NOT displace it);
    // within-batch tie on K broke to the minimum (d03 < d07)
    assert(kept === Map("K" -> "d03", "A" -> "d01", "B" -> "d05", "C" -> "d08"))
  }

  test("streaming as-of enrichment agrees with the batch asOfJoin on identical inputs") {
    val views = Seq(
      ("u1", 100L, 1L), ("u1", 200L, 2L), ("u1", 300L, 3L),
      ("u2", 50L, 4L), ("u3", 10L, 5L))
    val clicks = Seq(
      ("u1", 100L, "c@100"), ("u1", 250L, "c@250"),
      ("u2", 60L, "after-all-views"))
    val clicksDf = clicks.toDF("uuid", "time", "cprops")

    val batch = graft.core.TrailOps.asOfJoin(
      views.toDF("uuid", "time", "seq"), clicksDf, Seq("cprops"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.getString(3))).toMap

    val dir = Files.createTempDirectory("graft-sasof")
    val src = dir.resolve("src").toString
    views.toDF("uuid", "time", "seq").write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamSessions.streamAsOfJoin(stream, clicksDf, Seq("cprops"))
      .writeStream.outputMode("append").format("memory").queryName("sasof")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT uuid, time, asof_cprops FROM sasof")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.getString(2))).toMap
    assert(streamed === batch)
    // spot semantics: same-second right visible; no-right trails NULL
    assert(streamed(("u1", 100L)) === Some("c@100"))
    assert(streamed(("u2", 50L)) === None)
    assert(streamed(("u3", 10L)) === None)
  }

  test("streaming heavy hitters: MG sketch aggregates a token stream with bounded state") {
    // the MisraGries Aggregator works as a streaming complete-mode
    // aggregate unchanged: state is one <=k-entry map, merged per
    // micro-batch — bounded-memory top-k over an unbounded token stream
    val dir = Files.createTempDirectory("graft-smg")
    val src = dir.resolve("src").toString
    // zipf-ish: token j appears ceil(200/j) times, 40 distinct > k
    val toks = (1 to 40).flatMap(j => Seq.fill(math.ceil(200.0 / j).toInt)(s"tok$j"))
    toks.toDF("token").write.parquet(src)

    val k = 8
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = stream.as[String]
      .select(graft.ops.Sketch.MisraGries(k).toColumn.name("sketch"))
      .writeStream.outputMode("complete").format("memory").queryName("smg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val sketch = spark.sql("SELECT sketch FROM smg")
      .collect().head.getMap[String, Long](0)
    val n = toks.size.toLong
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    assert(sketch.size <= k)
    exact.filter(_._2 * (k + 1) > n).foreach { case (t, _) =>
      assert(sketch.contains(t), s"missing heavy hitter $t")
    }
    sketch.foreach { case (t, est) =>
      val c = exact(t)
      assert(est <= c && est >= c - n / (k + 1), s"estimate $est out of bound for $t")
    }
  }

  test("streaming Count-Min: grid aggregates a token stream, probe never undercounts") {
    // same bounded-state story as MG: stream state is one depth×width long
    // grid, merged cell-wise per micro-batch; the batch-side probe reads
    // the streamed grid with the codegen'd element_at(pmod(xxhash64)).
    val dir = Files.createTempDirectory("graft-scms")
    val src = dir.resolve("src").toString
    val toks = (1 to 30).flatMap(j => Seq.fill(math.ceil(120.0 / j).toInt)(s"tok$j"))
    toks.toDF("token").write.parquet(src)

    val d = 4; val w = 32 // narrow: collisions guaranteed, bound must hold
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = stream.as[String]
      .select(graft.ops.Sketch.CountMin(d, w).toColumn.name("grid"))
      .writeStream.outputMode("complete").format("memory").queryName("scms")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val grid = spark.sql("SELECT grid FROM scms")
    val est = toks.distinct.toDF("t").crossJoin(broadcast(grid))
      .select(col("t"),
        graft.ops.Sketch.countMinEstimate(col("grid"), col("t"), d, w))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"streamed CMS undercounts $t: ${est(t)} < $c")
    }
  }

  test("streaming TopK: complete-mode aggregate equals the batch sort-limit") {
    val dir = Files.createTempDirectory("graft-stopk")
    val src = dir.resolve("src").toString
    val rows = (1L to 500L).map(i => ((i * 7919 % 97).toDouble, i))
    rows.toDF("score", "id").write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = stream.as[(Double, Long)]
      .select(graft.ops.Sketch.TopK(9).toColumn.name("tk"))
      .writeStream.outputMode("complete").format("memory").queryName("stopk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.sql("SELECT tk FROM stopk").as[Seq[(Double, Long)]].head()
    val expect = rows.sortBy { case (s, i) => (-s, i) }.take(9)
    assert(got === expect)
  }

  test("streaming per-query TopK: the ANN shortlist primitive groups on a stream") {
    // The round-6 ANN shortlist is a grouped mergeable aggregate (udaf
    // over Sketch.TopK) — being an Aggregator, the SAME primitive runs as
    // a streaming complete-mode grouped aggregate: per query, the result
    // must equal the batch per-query sort-limit. This is the streaming
    // twin of the bounded-shuffle claim: state per (partition, query) is
    // ≤4k buffered pairs, never the scored stream.
    val dir = Files.createTempDirectory("graft-sqtopk")
    val src = dir.resolve("src").toString
    val rows = for (q <- 1L to 4L; i <- 1L to 200L)
      yield (q, ((q * 31 + i * 7919) % 101).toDouble, i)
    rows.toDF("query_id", "score", "id").write.parquet(src)

    val tk = org.apache.spark.sql.functions.udaf(graft.ops.Sketch.TopK(5))
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = stream.groupBy($"query_id").agg(tk($"score", $"id").as("tk"))
      .writeStream.outputMode("complete").format("memory").queryName("sqtopk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.sql("SELECT query_id, tk FROM sqtopk")
      .as[(Long, Seq[(Double, Long)])].collect().toMap
    assert(got.keySet === (1L to 4L).toSet)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val expect = rs.map(r => (r._2, r._3)).sortBy { case (s, i) => (-s, i) }.take(5)
      assert(got(qid) === expect, s"query $qid diverged from batch sort-limit")
    }
  }

  test("streaming cap quota: per-group decision across micro-batches equals batch capPerGroup") {
    // Two micro-batches (maxFilesPerTrigger=1); the BEST-scored docs of
    // the whale group arrive in batch 2, so they must DISPLACE batch-1
    // picks in the TopK state — the convergence property a
    // first-arrival cap would fail. Decision compared against the batch
    // op's decision AND against the applied batch capPerGroup rows.
    val dir = Files.createTempDirectory("graft-scap")
    val src = dir.resolve("src").toString
    val b1 = (1L to 40L).map(i => (i, "whale", (i % 17).toDouble))
    val b2 = (41L to 60L).map(i => (i, "whale", 100.0 + i)) ++
      (61L to 70L).map(i => (i, "minnow", i.toDouble))
    b1.toDF("doc_id", "source", "score").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("doc_id", "source", "score").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingCapQuota(stream, maxPerGroup = 5,
        groupCol = "source", scoreCol = col("score"))
      .writeStream.outputMode("complete").format("memory").queryName("scap")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val all = (b1 ++ b2).toDF("doc_id", "source", "score")
    val streamed = spark.sql("SELECT source, keep_id, cap_rank FROM scap")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchDecision = graft.ops.TextAnalysis.capQuota(all, 5,
        groupCol = "source", scoreCol = col("score"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batchDecision)
    // displacement really happened: every whale keep is a batch-2 doc
    assert(streamed.filter(_._1 == "whale").forall(_._2 > 40L))
    // and the applied batch op keeps exactly the decided ids
    val applied = graft.ops.TextAnalysis.capPerGroup(all, 5,
        groupCol = "source", scoreCol = col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(applied === streamed.map(_._2))
  }

  test("streaming quantile threshold: GK summary merges across micro-batches, equals batch") {
    // Two micro-batches with DISJOINT score ranges (batch 2 is the whole
    // upper half), so a first-batch-frozen threshold would be badly
    // wrong; at accuracy >> n the GK summary is rank-exact under ANY
    // merge topology, so streamed == batch == the true quantile.
    val dir = Files.createTempDirectory("graft-squant")
    val src = dir.resolve("src").toString
    val b1 = (1 to 100).map(i => (i.toLong, i.toDouble))
    val b2 = (101 to 200).map(i => (i.toLong, i.toDouble))
    b1.toDF("doc_id", "score").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("doc_id", "score").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingQuantileThreshold(stream, col("score"), 0.25)
      .writeStream.outputMode("complete").format("memory").queryName("squant")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT threshold, n_scored FROM squant").head()
    val all = (b1 ++ b2).toDF("doc_id", "score")
    val batch = StreamSessions.streamingQuantileThreshold(all, col("score"), 0.25).head()
    assert(streamed.getDouble(0) === batch.getDouble(0))
    assert(streamed.getLong(1) === 200L && batch.getLong(1) === 200L)
    // and it is the TRUE p25 of the merged corpus (rank-exact regime):
    // both batches contributed, not a frozen first-batch value
    assert(streamed.getDouble(0) === 50.0, s"threshold ${streamed.getDouble(0)}")
  }

  test("streaming stratum quota: exactly-n decision across micro-batches equals batch takePerStratum") {
    val dir = Files.createTempDirectory("graft-sstrat")
    val src = dir.resolve("src").toString
    val b1 = (1L to 30L).map(i => (i, "en", s"alpha document $i"))
    val b2 = (31L to 60L).map(i => (i, "en", s"beta document $i")) ++
      (61L to 80L).map(i => (i, "de", s"gamma dokument $i"))
    b1.toDF("doc_id", "lang", "text").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("doc_id", "lang", "text").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingStratumQuota(stream, n = 4)
      .writeStream.outputMode("complete").format("memory").queryName("sstrat")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val all = (b1 ++ b2).toDF("doc_id", "lang", "text")
    val streamed = spark.sql("SELECT lang, keep_id FROM sstrat")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batchKept = graft.ops.TextAnalysis.takePerStratum(all, 4)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(streamed === batchKept)
    assert(streamed.count(_._1 == "en") === 4)
    assert(streamed.count(_._1 == "de") === 4)
    // the md5-least picks span both micro-batches ⇒ the MinKLex state
    // merged across the boundary rather than freezing batch-1 arrivals
    val enIds = streamed.filter(_._1 == "en").map(_._2)
    assert(enIds.exists(_ <= 30L) && enIds.exists(_ > 30L),
      s"en picks $enIds never crossed the micro-batch boundary — " +
        "arrange the fixture so the hash-least docs span batches")
  }

  test("streaming mix plan: per-source have-vs-need converges across micro-batches to batch") {
    // Batch 2 delivers most of source b's tokens, so a frozen batch-1
    // plan would report b owing ~all of its budget; the merged aggregate
    // must equal batch mixPlan on the full corpus.
    val dir = Files.createTempDirectory("graft-smix")
    val src = dir.resolve("src").toString
    val b1 = (1L to 20L).map(i => (i, "a", "tok tok tok tok")) ++
      (21L to 25L).map(i => (i, "b", "x"))
    val b2 = (26L to 60L).map(i => (i, "b", "y y y y y y y y"))
    b1.toDF("doc_id", "source", "text").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val weights = Map("a" -> 0.5, "b" -> 0.5)
    val q = StreamSessions.streamingMixPlan(stream, weights, budget = 1000L)
      .writeStream.outputMode("complete").format("memory").queryName("smix")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val all = (b1 ++ b2).toDF("doc_id", "source", "text")
    val streamed = spark.sql(
        "SELECT source, n_docs, n_tokens, need_tokens, epochs FROM smix")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    val batch = graft.ops.TextAnalysis.mixPlan(all, weights, budget = 1000L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(streamed === batch)
    // b's token count spans both micro-batches (5·1 + 35·8 = 285): the
    // state merged rather than freezing the first batch
    assert(streamed("b")._2 === 285L)
  }

  test("streaming profile: per-column audit merges across micro-batches to batch") {
    // batch 2 introduces the first null and a new max — a frozen batch-1
    // profile would miss both; the merged aggregate must equal batch
    // profile(exact=false) over the full corpus.
    val dir = Files.createTempDirectory("graft-sprof")
    val src = dir.resolve("src").toString
    val b1 = Seq((1L, Option("aa"), "x"), (2L, Option("bb"), "y"))
    val b2 = Seq((3L, Option.empty[String], "z"), (4L, Option("zz"), "y"))
    b1.toDF("id", "s", "t").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("id", "s", "t").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingProfile(stream)
      .writeStream.outputMode("complete").format("memory").queryName("sprof")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val key = (r: org.apache.spark.sql.Row) => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.getString(5))))
    val streamed = spark.sql(
      "SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM sprof")
      .collect().map(key).toMap
    val batch = graft.ops.TextAnalysis.profile(
        (b1 ++ b2).toDF("id", "s", "t"), exact = false)
      .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
      .collect().map(key).toMap
    assert(streamed === batch)
    assert(streamed("s") === ((4L, 1L, 3L, Some("aa"), Some("zz"))))
  }

  test("streaming token drift: live counts + batch finisher equal batch tokenDrift") {
    // snapshot a and snapshot b each arrive in two micro-batches; the
    // count state must merge per (token, side) before the finisher ranks.
    val dir = Files.createTempDirectory("graft-sdrift")
    val (srcA, srcB) = (dir.resolve("a").toString, dir.resolve("b").toString)
    val a1 = Seq((1L, "c c x")); val a2 = Seq((2L, "c x w"))
    val b1 = Seq((3L, "c y")); val b2 = Seq((4L, "c c y y"))
    a1.toDF("doc_id", "text").coalesce(1).write.parquet(srcA)
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(srcB)
    Thread.sleep(1100)
    a2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcA)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcB)

    def read(p: String) = spark.readStream
      .schema(spark.read.parquet(p).schema)
      .option("maxFilesPerTrigger", 1).parquet(p)
    val q = StreamSessions.streamingTokenCounts(read(srcA), read(srcB))
      .writeStream.outputMode("complete").format("memory").queryName("sdrift")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val fromStream = graft.ops.TextAnalysis
      .driftFromCounts(spark.table("sdrift"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val batch = graft.ops.TextAnalysis.tokenDrift(
        (a1 ++ a2).toDF("doc_id", "text"), (b1 ++ b2).toDF("doc_id", "text"),
        k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(fromStream === batch)
    // "c" spans all four micro-batches: 3 on side a, 3 on side b
    assert(fromStream.find(_._1 == "c").map(t => (t._2, t._3)) === Some((3L, 3L)))
  }

  test("a fitted Whitener transforms a stream unchanged (pure projection)") {
    val dir = Files.createTempDirectory("graft-swhite")
    val src = dir.resolve("src").toString
    val ref = Seq(
      (1L, Seq(1f, 2.1f)), (2L, Seq(2f, 3.9f)), (3L, Seq(3f, 6.2f)),
      (4L, Seq(4f, 7.8f)), (5L, Seq(0f, 0.2f)))
    val incoming = Seq((10L, Seq(2.5f, 5f)), (11L, Seq(1.5f, 3f)))
    incoming.toDF("vec_id", "embedding").write.parquet(src)

    // fit on the reference corpus, apply the FROZEN model to the stream
    val model = graft.ops.Similarity.fitWhitener(
      ref.toDF("vec_id", "embedding"), dim = 2)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = model.transform(stream).select("vec_id", "whitened")
      .writeStream.outputMode("append").format("memory").queryName("swhite")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT vec_id, whitened FROM swhite")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val batch = model.transform(incoming.toDF("vec_id", "embedding"))
      .select("vec_id", "whitened")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(streamed === batch)
    assert(streamed.keySet === Set(10L, 11L))
  }

  test("streaming Gram: live moments across micro-batches equal batch covariance") {
    val dir = Files.createTempDirectory("graft-sgram")
    val src = dir.resolve("src").toString
    val b1 = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)))
    val b2 = Seq((3L, Seq(5f, 0f)), (4L, Seq(-1f, 1f)))
    b1.toDF("vec_id", "embedding").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingGram(stream, dim = 2)
      .writeStream.outputMode("complete").format("memory").queryName("sgram")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val m = spark.sql("SELECT n, s_micro, p_micro2 FROM sgram").head()
    val fromStream = graft.ops.Similarity.covarianceFromMoments(spark, 2,
        m.getLong(0), m.getSeq[Long](1), m.getSeq[Long](2))
      .orderBy("i", "j").collect().map(_.toSeq).toSeq
    val batch = graft.ops.Similarity.covarianceMatrix(
        (b1 ++ b2).toDF("vec_id", "embedding"), dim = 2)
      .orderBy("i", "j").collect().map(_.toSeq).toSeq
    assert(fromStream === batch)
    assert(m.getLong(0) === 4L) // moments merged across both micro-batches
  }

  test("streaming fuzzy decontamination: stream-static LSH equals batch pair set") {
    // training docs arrive in two micro-batches; the contaminated doc is
    // in batch 2, so a batch-1-only view would miss it entirely
    val dir = Files.createTempDirectory("graft-sfuzz")
    val src = dir.resolve("src").toString
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely different text with no overlap at all here"))
    val b2 = Seq((12L, "alpha beta gamma delta epsilon zeta eta theta"))
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)

    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingFuzzyDecontaminate(stream, eval,
        threshold = 0.5, numHashes = 64, bands = 16)
      .writeStream.outputMode("append").format("memory").queryName("sfuzz")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT doc_id, eval_id, jaccard FROM sfuzz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.ops.Dedup.fuzzyDecontaminate(
        (b1 ++ b2).toDF("doc_id", "text"), eval, threshold = 0.5,
        numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    // the batch-2 contamination (exact dup of eval 101) surfaced
    assert(streamed.exists(t => t._1 == 12L && t._2 == 101L && t._3 == 1.0))
  }

  test("streaming perceptual image dedup against a frozen index equals the batch cross-pair set") {
    // corpus (index side): members m in {0, 3} of each planted group —
    // the "already ingested" media. Stream: m in {1, 2} (exact copy +
    // one-pixel near dup), split across two micro-batches so the second
    // batch's matches prove the frozen index survives the boundary.
    import graft.ops.Multimodal
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(48) // 12 groups
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
    val indexMedia = media.filter(col("media_id") % 4 === 0 ||
      col("media_id") % 4 === 3)
    val index = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(indexMedia, thumbSide = 8))

    val dir = Files.createTempDirectory("graft-simg")
    val src = dir.resolve("src").toString
    media.filter(col("media_id") % 4 === 1).select("media_id", "bytes")
      .coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    media.filter(col("media_id") % 4 === 2).select("media_id", "bytes")
      .coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingImageNearDup(stream, index)
      .writeStream.outputMode("append").format("memory").queryName("simg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql(
        "SELECT media_id, match_id, hamming, n_diff_ch FROM simg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // batch equivalent: imageNearDupPairs over the union, restricted to
    // (stream member, index member) cross pairs
    val batch = Multimodal.imageNearDupPairs(
        Multimodal.decodeAnyImages(media, thumbSide = 8), maxHamming = 3)
      .filter((col("id_a") % 4 === 0 || col("id_a") % 4 === 3) &&
        (col("id_b") % 4 === 1 || col("id_b") % 4 === 2))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === batch && streamed.nonEmpty)
    // planted structure: each group's copy (4g+1, hamming 0) and flipped
    // member (4g+2, 3 channels) match the group base 4g; nothing matches
    // the independent member 4g+3
    val expected = (0 until 12).flatMap { g =>
      Seq((4L * g + 1, 4L * g, 0L), (4L * g + 2, 4L * g, 3L))
    }.toSet
    assert(streamed.map(t => (t._1, t._2, t._4)) === expected)
    assert(!streamed.exists(_._2 % 4 == 3))
  }

  test("streaming perceptual audio dedup against a frozen index equals the batch pair set") {
    import graft.ops.Multimodal
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(32) // 8 groups
    val media = Multimodal.dedupAudioMediaFromDocuments(docs)
    val index = Multimodal.audioSignatureIndex(
      media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3))

    val dir = Files.createTempDirectory("graft-saud")
    val src = dir.resolve("src").toString
    media.filter(col("media_id") % 4 === 1).select("media_id", "bytes")
      .coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    media.filter(col("media_id") % 4 === 2).select("media_id", "bytes")
      .coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamSessions.streamingAudioNearDup(stream, index)
      .writeStream.outputMode("append").format("memory").queryName("saud")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql(
        "SELECT media_id, match_id, hamming, n_diff_words FROM saud")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // every stream member (copy + 2x-amplitude copy) lands at fingerprint
    // distance 0 from its group base with zero differing frame words
    val expected = (0 until 8).flatMap { g =>
      Seq((4L * g + 1, 4L * g, 0L, 0L), (4L * g + 2, 4L * g, 0L, 0L))
    }.toSet
    assert(streamed === expected)
  }

  test("streaming perceptual video dedup against a frozen frame index equals the batch pair set") {
    import graft.ops.Multimodal
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(32) // 8 groups
    val media = Multimodal.dedupVideoMediaFromDocuments(docs)
    val index = Multimodal.videoFrameIndex(
      media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3))
      .localCheckpoint()

    val dir = Files.createTempDirectory("graft-svid")
    val src = dir.resolve("src").toString
    media.filter(col("media_id") % 4 === 1).select("media_id", "bytes")
      .coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    media.filter(col("media_id") % 4 === 2).select("media_id", "bytes")
      .coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    // aggregation state → UPDATE mode; each pair's count completes in
    // the micro-batch carrying its video, so final state == batch
    val q = StreamSessions.streamingVideoNearDup(stream, index)
      .writeStream.outputMode("update").format("memory").queryName("svid")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT media_id, match_id, n_matched FROM svid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // planted structure: the exact copy shares all nf frames with its
    // base, the replaced-frame member nf-1; nothing matches m=3
    val expected = (0 until 8).flatMap { g =>
      val nf = 3L + g % 3
      Seq((4L * g + 1, 4L * g, nf), (4L * g + 2, 4L * g, nf - 1))
    }.toSet
    assert(streamed === expected)
    // and the batch operator, restricted to (index, stream) cross pairs,
    // says exactly the same
    val batch = Multimodal.videoNearDupPairs(media, minMatchedFrames = 2)
      .filter((col("id_a") % 4 === 0 || col("id_a") % 4 === 3) &&
        (col("id_b") % 4 === 1 || col("id_b") % 4 === 2))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming mixed-media dedup (foreachBatch) equals the one-shot batch body across micro-batches") {
    import graft.ops.Multimodal
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    val img = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val aud = Multimodal.dedupAudioMediaFromDocuments(docs)
      .select((col("media_id") + 2000L).as("media_id"), col("bytes"))
    val vid = Multimodal.dedupVideoMediaFromDocuments(docs)
      .select((col("media_id") + 4000L).as("media_id"), col("bytes"))
    val unk = (0 until 4).map(i => (9000L + i, "unknown-container".getBytes))
      .toDF("media_id", "bytes")
    val media = img.unionByName(aud).unionByName(vid).unionByName(unk)
      .localCheckpoint()
    val corpus = media.filter(col("media_id") % 4 === 0 ||
      col("media_id") % 4 === 3)
    val tagged = Multimodal.classifyMedia(corpus).localCheckpoint()
    def cohort(m: String) = tagged.filter(col("modality") === m)
      .select("media_id", "bytes")
    // frozen static sides (the m_stream_image_dedup convention)
    val imgIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(cohort("image"), thumbSide = 8))
      .localCheckpoint()
    val audIdx = Multimodal.audioSignatureIndex(cohort("audio"))
      .localCheckpoint()
    val vidIdx = Multimodal.videoFrameIndex(cohort("video"))
      .localCheckpoint()
    val blobIdx = Multimodal.blobMd5Index(corpus).localCheckpoint()

    val dir = Files.createTempDirectory("graft-smed")
    val src = dir.resolve("src").toString
    media.filter(col("media_id") % 4 === 1).coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    media.filter(col("media_id") % 4 === 2).coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val sunk = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String)]
    val q = StreamSessions.streamingMediaNearDup(stream, imgIdx, audIdx,
        vidIdx, blobIdx) { (b, _) =>
        val rows = b.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
        sunk.synchronized { sunk ++= rows }
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // the union over micro-batches IS the one-shot application of the
    // same body to the whole stream frame — and nothing emits twice
    val streamed = sunk.toSet
    assert(sunk.size === streamed.size)
    val oneShot = Multimodal.mediaAgainstIndexes(
        media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2),
        imgIdx, audIdx, vidIdx, blobIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(streamed === oneShot && streamed.nonEmpty)
    // planted structure: every stream member matches its frozen group
    // base perceptually; the byte-identical m=1 copies and every unknown
    // blob also match exactly by content hash
    def mod(off: Long, name: String) = (0 until 4).flatMap { g =>
      val b = off + 4L * g
      Seq((b + 1, b, "perceptual", name), (b + 2, b, "perceptual", name),
        (b + 1, b, "exact_blob", name))
    }.toSet
    val expected = mod(0L, "image") ++ mod(2000L, "audio") ++
      mod(4000L, "video") ++
      Set((9001L, 9000L, "exact_blob", "unknown"),
        (9002L, 9000L, "exact_blob", "unknown"))
    assert(streamed === expected)
  }

  test("streaming GATED media dedup (r18): one header walk per micro-batch, stream ≡ one-shot batch incl. junk, decode attempts ≡ kept") {
    import graft.ops.Multimodal
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    def off(df: org.apache.spark.sql.DataFrame, o: Long) = df.select(
      (col("media_id") + o).as("media_id"), col("bytes"))
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
      .unionByName(off(Multimodal.dedupAudioMediaFromDocuments(docs), 2000L))
      .unionByName(off(Multimodal.dedupVideoMediaFromDocuments(docs), 4000L))
      .unionByName(Multimodal.junkMediaFixture(docs, base = 16000L,
        step = 2000L))
      .localCheckpoint()
    val corpus = media.filter(col("media_id") % 4 === 0 ||
      col("media_id") % 4 === 3)
    // the composed shape: the INDEX BUILD is gated too — junk corpus
    // blobs (incl. the 4000×3000 SOF-patched decode bomb) never reach
    // a decode; byte identity still freezes via the decodeless blob
    // index
    val keptC = Multimodal.mediaMetaGate(corpus, minSide = 8,
        maxPixels = 1000000L, minDurationMs = 5L, maxDurationMs = 5000L)
      .filter(col("gate") === "kept").localCheckpoint()
    def cohort(m: String) = keptC.filter(col("modality") === m)
      .select("media_id", "bytes")
    val imgIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(cohort("image"), thumbSide = 8))
      .localCheckpoint()
    val audIdx = Multimodal.audioSignatureIndex(cohort("audio"))
      .localCheckpoint()
    val vidIdx = Multimodal.videoFrameIndex(cohort("video"))
      .localCheckpoint()
    val blobIdx = Multimodal.blobMd5Index(corpus).localCheckpoint()

    val dir = Files.createTempDirectory("graft-sgated")
    val src = dir.resolve("src").toString
    media.filter(col("media_id") % 4 === 1).coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    media.filter(col("media_id") % 4 === 2).coalesce(1)
      .write.mode("append").parquet(src)

    // count decode attempts from HERE: the index build is done (eager
    // checkpoints), so everything below is the stream's own decode work
    val seen = scala.collection.mutable.Map(
      "image" -> new java.util.concurrent.atomic.AtomicLong(0),
      "audio" -> new java.util.concurrent.atomic.AtomicLong(0),
      "video" -> new java.util.concurrent.atomic.AtomicLong(0))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        sc.stageInfo.accumulables.values.foreach { a =>
          seen.foreach { case (m, ctr) =>
            if (a.name.exists(_.contains(s"graft.${m}_decode_attempts")))
              ctr.addAndGet(a.value.map(_.toString.toLong).getOrElse(0L))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val sunk = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String, String)]
      val q = StreamSessions.streamingGatedMediaNearDup(stream, imgIdx,
          audIdx, vidIdx, blobIdx, minSide = 8, maxPixels = 1000000L,
          minDurationMs = 5L, maxDurationMs = 5000L) { (b, _) =>
          val rows = b.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
          sunk.synchronized { sunk ++= rows }
        }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)

      val streamed = sunk.toSet
      assert(sunk.size === streamed.size)
      // the gate's saving survives the move to streaming: only the 8
      // kept stream blobs per modality ever reach a decode (counted
      // BEFORE the one-shot verification run below adds its own)
      var waited = 0
      while (seen.values.map(_.get()).sum < 24 && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      for ((m, ctr) <- seen)
        assert(ctr.get() === 8L,
          s"$m stream decode attempts ${ctr.get()} != kept 8")
      // ONE body, two execution modes: union over micro-batches equals
      // the one-shot batch application
      val oneShot = Multimodal.gatedMediaAgainstIndexes(
          media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2),
          imgIdx, audIdx, vidIdx, blobIdx, minSide = 8,
          maxPixels = 1000000L, minDurationMs = 5L, maxDurationMs = 5000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3))).toSet
      assert(streamed === oneShot && streamed.nonEmpty)
      // planted structure: kept members match perceptually (+ exact for
      // the byte copies); gated-out junk matches ONLY by content hash
      def mod(o: Long, name: String) = (0 until 4).flatMap { g =>
        val b = o + 4L * g
        Seq((b + 1, b, "perceptual", name), (b + 2, b, "perceptual", name),
          (b + 1, b, "exact_blob", name))
      }.toSet
      def junk(o: Long, name: String) = (0 until 4).flatMap { g =>
        val b = o + 4L * g
        Seq((b + 1, b, "exact_blob", name), (b + 2, b, "exact_blob", name))
      }.toSet
      val expected = mod(0L, "image") ++ mod(2000L, "audio") ++
        mod(4000L, "video") ++ junk(16000L, "image") ++
        junk(18000L, "audio") ++ junk(20000L, "video")
      assert(streamed === expected)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pure-projection text ops run unchanged on a stream (quality + PII scrub)") {
    val dir = Files.createTempDirectory("graft-sproj")
    val src = dir.resolve("src").toString
    Seq(
      (1L, "the cat sat on the mat and then the dog came by to visit the cat again ok"),
      (2L, "mail me at a.b@example.org right now"))
      .toDF("doc_id", "text").write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    // weightedHashSample is a pure filter — streaming-legal unchanged;
    // weight 1.0 keeps both rows so the assertions below still see them
    val out = graft.ops.TextAnalysis.withQualitySignals(
        graft.ops.TextAnalysis.weightedHashSample(stream, lit(1.0)))
      .withColumn("clean", graft.ops.TextAnalysis.scrubPii(col("text")))
      .select("doc_id", "n_tokens", "clean")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sproj").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.sql("SELECT * FROM sproj ORDER BY doc_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("n_tokens") === 18L)
    assert(rows(1).getAs[String]("clean") === "mail me at <EMAIL> right now")
  }

  test("clusterSafeSplit scores a stream against frozen cluster labels (stream-static join + projection)") {
    val dir = Files.createTempDirectory("graft-scsplit")
    val src = dir.resolve("src").toString
    val batch = Seq((1L, "doc one"), (2L, "doc two"), (7L, "doc seven"))
      .toDF("doc_id", "text")
    batch.write.parquet(src)
    // frozen labels: 1 and 2 share a cluster; 7 is absent → singleton
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = graft.ops.Dedup.clusterSafeSplit(stream, clusters, evalFrac = 0.5)
      .select("doc_id", "cluster_id", "split")
      .writeStream.outputMode("append").format("memory")
      .queryName("scsplit").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql("SELECT * FROM scsplit ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val batched = graft.ops.Dedup.clusterSafeSplit(batch, clusters, evalFrac = 0.5)
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(streamed === batched)
    assert(streamed.filter(_._2 === 1L).map(_._3).distinct.length === 1,
      "cluster members must land on one side, stream or batch")
  }

  test("frozen-vocab OOV scoring and CDC chunking run unchanged on a stream (pure projections)") {
    val dir = Files.createTempDirectory("graft-soov")
    val src = dir.resolve("src").toString
    val batch = Seq(
      (1L, "a a b z"),
      (2L, (0 until 60).map(i => "w" + i).mkString(" ")))
      .toDF("doc_id", "text")
    batch.write.parquet(src)
    val vocab = graft.ops.TextAnalysis.fitVocab(batch, vocabSize = 2) // {a, b}
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = graft.ops.TextAnalysis.oovAgainst(stream, vocab)
      .writeStream.outputMode("append").format("memory")
      .queryName("soov").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val oov = spark.sql("SELECT doc_id, n_oov FROM soov ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(oov === Array((1L, 1L), (2L, 60L)))
    // cdcChunks: per-row boundary fold + explode — batch ≡ stream
    val q2 = graft.ops.TextAnalysis.cdcChunks(stream, w = 2, maskBits = 2,
        minSize = 3, maxSize = 12)
      .writeStream.outputMode("append").format("memory")
      .queryName("scdc").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val streamed = spark.sql("SELECT * FROM scdc ORDER BY doc_id, chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val batched = graft.ops.TextAnalysis.cdcChunks(batch, w = 2, maskBits = 2,
        minSize = 3, maxSize = 12)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(streamed === batched)
  }

  test("BPE segmentation runs unchanged on a stream (native expression is a pure projection)") {
    import graft.ops.Bpe
    val dir = Files.createTempDirectory("graft-sbpe")
    val src = dir.resolve("src").toString
    Seq((1L, "the then"), (2L, "think tank")).toDF("doc_id", "text")
      .write.parquet(src)
    val merges = Seq(Bpe.BpeMerge(1, "t", "h", 0L), Bpe.BpeMerge(2, "th", "e", 0L))
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = Bpe.segment(stream, merges).select("doc_id", "subwords")
      .writeStream.outputMode("append").format("memory")
      .queryName("sbpe").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT * FROM sbpe ORDER BY doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("the", "the", "n"))
    assert(got(2L) === Seq("th", "i", "n", "k", "t", "a", "n", "k"))
  }

  test("chunking and decontamination run on a stream, equal to batch") {
    // chunks is a pure generate-projection; decontaminate is a
    // stream-static broadcast semi-join against the (static, small by
    // construction) eval shingle set — both stream with ZERO state.
    val dir = Files.createTempDirectory("graft-schunk")
    val src = dir.resolve("src").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    docs.write.parquet(src)
    val evalSet = docs.filter(col("doc_id") < 20)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val out = graft.ops.TextAnalysis.chunks(stream, size = 16, stride = 12)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("schunk").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamedChunks = spark.sql(
      "SELECT doc_id, chunk_id, chunk_md5 FROM schunk ORDER BY doc_id, chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val batchChunks = graft.ops.TextAnalysis.chunks(docs, size = 16, stride = 12)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "chunk_md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(streamedChunks === batchChunks && streamedChunks.nonEmpty)

    val stream2 = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val decon = graft.ops.Dedup.decontaminate(
      train = stream2.filter(col("doc_id") >= 20), eval = evalSet, k = 3)
    val q2 = decon.writeStream.outputMode("complete").format("memory")
      .queryName("sdecon").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val streamedDecon = spark.sql("SELECT * FROM sdecon ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchDecon = graft.ops.Dedup.decontaminate(
        train = docs.filter(col("doc_id") >= 20), eval = evalSet, k = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamedDecon === batchDecon && streamedDecon.nonEmpty)
  }

  test("SparkSessionExtensions registers simhash64 for SQL") {
    new graft.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions {})
    // register the REAL arity-checked builders on the live session's
    // registry (extensions apply at session build time; this exercises the
    // same GraftExtensions.functions entries the injection path uses)
    for (name <- Seq("simhash64", "shingle_hashes", "z_order2", "sign_lsh",
        "cdc_boundaries"))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, graft.GraftExtensions.builderFor(name), "built-in")

    val viaSql = spark.sql("SELECT simhash64(array('a','b','c')) AS h").head().getLong(0)
    val viaCol = Seq(Seq("a", "b", "c")).toDF("t")
      .select(graft.functions.GraftFunctions.simhash64($"t").as("h")).head().getLong(0)
    assert(viaSql === viaCol)

    // int-literal-parameterized expression through the same injection path
    val shSql = spark.sql("SELECT shingle_hashes(array('a','b','c'), 2) AS h")
      .head().getSeq[Long](0)
    val shCol = Seq(Seq("a", "b", "c")).toDF("t")
      .select(graft.functions.GraftFunctions.shingleHashes($"t", 2).as("h"))
      .head().getSeq[Long](0)
    assert(shSql === shCol && shSql.length === 2)

    // binary expression through the same injection path (z-order curve)
    val zSql = spark.sql("SELECT z_order2(3L, 0L) AS z, z_order2(0L, 3L) AS w")
      .head()
    assert(zSql.getLong(0) === 5L && zSql.getLong(1) === 10L)

    // four-int-literal expression through the same injection path (CDC)
    val cdcSql = spark.sql(
      "SELECT cdc_boundaries(array('a','b','c','d','e'), 2, 2, 1, 3) AS b")
      .head().getSeq[Int](0)
    val cdcCol = Seq(Seq("a", "b", "c", "d", "e")).toDF("t")
      .select(graft.functions.GraftFunctions.cdcBoundaries($"t", 2, 2, 1, 3).as("b"))
      .head().getSeq[Int](0)
    assert(cdcSql === cdcCol && cdcSql.last === 5)

    // two-int-literal expression through the same injection path (sign_lsh)
    val lshSql = spark.sql(
      "SELECT sign_lsh(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 2) AS b")
      .head().getLong(0)
    val lshCol = Seq(Seq(1.0f, -2.0f)).toDF("v")
      .select(graft.functions.GraftFunctions.signLsh($"v", 4, 2).as("b"))
      .head().getLong(0)
    assert(lshSql === lshCol)

    // wrong arity is an ANALYSIS error (WRONG_NUM_ARGS, like Spark's own
    // registry), not an IndexOutOfBoundsException from children(1). The
    // registry may wrap the builder's exception, so walk the cause chain.
    val e = intercept[Throwable] { spark.sql("SELECT z_order2(1L)").collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    val analysis = chain(e).collectFirst {
      case a: org.apache.spark.sql.AnalysisException => a }
    assert(analysis.isDefined,
      s"wanted an AnalysisException in the cause chain, got ${chain(e).map(_.getClass.getName)}")
    assert(analysis.get.getMessage.contains("requires 2 parameters") &&
      analysis.get.getMessage.contains("z_order2"), analysis.get.getMessage)
    assert(!chain(e).exists(_.isInstanceOf[IndexOutOfBoundsException]))
  }

  test("binned range join runs stateless on a stream, equal to batch") {
    // The bin equi-join is a pure projection + stream-static equi-join:
    // no state store, composes with any watermark/output mode. Same
    // operator code as batch — that is the point.
    val pts = (0 until 200).map(i => (i.toLong, (i * 37 % 1000).toLong))
    val iv = (0 until 10).map(j => (j.toLong, j * 100L, j * 100L + 40L))
    val dir = Files.createTempDirectory("graft-srange")
    val src = dir.resolve("src").toString
    pts.toDF("pid", "ts").write.parquet(src)
    val ivDf = iv.toDF("iid", "w_start", "w_end")

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = graft.ops.RangeJoin
      .binnedRangeJoin(stream, ivDf, "ts", "w_start", "w_end", binWidth = 64L)
      .select("pid", "iid")
      .writeStream.outputMode("append").format("memory").queryName("srange")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT pid, iid FROM srange")
      .as[(Long, Long)].collect().toSet
    val batch = graft.ops.RangeJoin
      .binnedRangeJoin(pts.toDF("pid", "ts"), ivDf,
        "ts", "w_start", "w_end", binWidth = 64L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("bloom dedup probe runs stateless on a stream, equal to batch") {
    // The repeated-ingest shape end-to-end: the corpus sketch is built
    // BATCH-side (driver-merged, broadcast once), the incoming batch is a
    // STREAM — and the probe is a pure codegen'd projection+filter
    // (BloomMightContain), so Dedup.bloomDedup runs unchanged with a
    // streaming `batch` argument: no state store, composes with any
    // output mode. Exactly how a 100 TB ingest loop would deploy it.
    val corpus = (0 until 50).map(i => (i.toLong, s"doc body $i"))
      .toDF("doc_id", "text")
    val incoming = (40 until 90).map(i => (i.toLong, s"doc body $i"))
    val dir = Files.createTempDirectory("graft-sbloom")
    val src = dir.resolve("src").toString
    incoming.toDF("doc_id", "text").write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = graft.ops.Dedup.bloomDedup(corpus, stream, fpp = 0.001)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("sbloom")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT doc_id FROM sbloom")
      .as[Long].collect().toSet
    val batch = graft.ops.Dedup.bloomDedup(corpus,
        incoming.toDF("doc_id", "text"), fpp = 0.001)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batch)
    // one-sided error: every true duplicate (40-49) is ALWAYS dropped
    assert(streamed.forall(_ >= 50) && streamed.nonEmpty)
  }

  test("stateful trailingStats carries the horizon deque across batches, equal to batch") {
    import graft.streaming.StreamSessions.{HorizonState, HorizonUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[HorizonUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[HorizonState]

    val dir = Files.createTempDirectory("graft-shorizon")
    val src = dir.resolve("src").toString
    // batch 2 opens inside batch 1's horizon (deque must survive the
    // boundary) and later falls out of it (eviction must fire)
    val b1 = Seq(("u1", 0L, 1L, 10L), ("u1", 1800L, 2L, 20L),
      ("u2", 5L, 3L, 7L))
    val b2 = Seq(("u1", 3600L, 4L, 30L), ("u1", 9000L, 5L, 40L))
    b1.toDF("uuid", "time", "seq", "v").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "seq", "v").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, Long)]
    val q = StreamSessions.statefulTrailingStats(stream, horizon = 3600L)
      .writeStream.outputMode("append").format("memory").queryName("shorizon")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        "SELECT uuid, time, seq, nWin, sumWin FROM shorizon")
      .as[HorizonUpdate].collect()
      .map(h => (h.uuid, h.time, h.seq) -> (h.nWin, h.sumWin)).toMap
    val batch = graft.agg.Rolling.trailingStats(
        (b1 ++ b2).toDF("uuid", "time", "seq", "v"),
        horizon = 3600L, valueCol = "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(streamed === batch)
    // the cross-boundary frame: 3600 sees 0 (closed bound), 1800, itself
    assert(streamed(("u1", 3600L, 4L)) === ((3L, 60L)))
    // eviction: 9000 sees only itself
    assert(streamed(("u1", 9000L, 5L)) === ((1L, 40L)))
  }

  test("stateful trailingStats gives a late event its OWN window, not the newest's") {
    import graft.streaming.StreamSessions.{HorizonState, HorizonUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[HorizonUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[HorizonState]

    val dir = Files.createTempDirectory("graft-slate")
    val src = dir.resolve("src").toString
    // batch 2 delivers an event 2000s BEHIND the trail max: its frame is
    // [1400, 5000] — the future 7000 event must NOT appear in it, and the
    // in-horizon 4000 entry must (sorted insert, filtered frame).
    val b1 = Seq(("u1", 4000L, 1L, 3L), ("u1", 7000L, 2L, 10L))
    val b2 = Seq(("u1", 5000L, 3L, 5L))
    b1.toDF("uuid", "time", "seq", "v").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "seq", "v").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, Long)]
    val q = StreamSessions.statefulTrailingStats(stream, horizon = 3600L)
      .writeStream.outputMode("append").format("memory").queryName("slate")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.sql("SELECT time, nWin, sumWin FROM slate")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(5000L) === ((2L, 8L)), got.toString) // 4000 + itself, never 7000
    assert(got(7000L) === ((2L, 13L)))              // 4000 + itself (in-order)
  }

  test("stateful trailingStats retains 2x horizon so an in-band late frame is complete") {
    import graft.streaming.StreamSessions.{HorizonState, HorizonUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[HorizonUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[HorizonState]

    val dir = Files.createTempDirectory("graft-slate2")
    val src = dir.resolve("src").toString
    // horizon 100: batch1 t=50, batch2 t=200 (evicting at max-horizon
    // would drop t=50), batch3 late t=150 — only 50 behind max, inside
    // the lateness band — whose frame [50, 150] must still see t=50.
    val b1 = Seq(("u1", 50L, 1L, 7L))
    val b2 = Seq(("u1", 200L, 2L, 11L))
    val b3 = Seq(("u1", 150L, 3L, 13L))
    b1.toDF("uuid", "time", "seq", "v").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "seq", "v").coalesce(1)
      .write.mode("append").parquet(src)
    Thread.sleep(1100)
    b3.toDF("uuid", "time", "seq", "v").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, Long)]
    val q = StreamSessions.statefulTrailingStats(stream, horizon = 100L)
      .writeStream.outputMode("append").format("memory").queryName("slate2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.sql("SELECT time, nWin, sumWin FROM slate2")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(150L) === ((2L, 20L)), got.toString) // {50, 150} — 50 retained
  }

  test("stateful decayScore renormalizes O(1) state across batches, matches batch") {
    import graft.streaming.StreamSessions.{DecayState, DecayUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[DecayUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[DecayState]

    val dir = Files.createTempDirectory("graft-sdecay")
    val src = dir.resolve("src").toString
    // batch 2 advances the max (forcing the renormalization path) and
    // delivers an event below the carried max (the add-term path)
    val b1 = Seq(("u1", 0L), ("u1", 43200L), ("u2", 10L))
    val b2 = Seq(("u1", 86400L), ("u1", 20000L))
    b1.toDF("uuid", "time").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long)]
    val q = StreamSessions.statefulDecayScore(stream, tau = 86400L)
      .writeStream.outputMode("append").format("memory").queryName("sdecay")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // final emission per trail (max nEvents wins)
    val streamed = spark.sql(
        """SELECT uuid, nEvents, lastTime, score FROM (
          |  SELECT *, row_number() OVER (PARTITION BY uuid
          |    ORDER BY nEvents DESC) rn FROM sdecay) WHERE rn = 1""".stripMargin)
      .as[DecayUpdate].collect()
      .map(u => u.uuid -> ((u.nEvents, u.lastTime, u.score))).toMap
    val batch = graft.agg.Rolling.decayScore(
        (b1 ++ b2).toDF("uuid", "time"), tau = 86400L)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3).toDouble / 1e6))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, (n, last, score)) =>
      val (bn, blast, bscore) = batch(u)
      assert(n === bn && last === blast, s"$u counts/last diverge")
      // batch micro-rounds each term; incremental float fold differs only
      // by accumulation order — agreement must be far inside the rounding
      assert(math.abs(score - bscore) < 1e-5 * n,
        s"$u score $score vs batch $bscore")
    }
  }

  test("stateful gap bands carry last-time state across batches, histogram equals batch") {
    import graft.streaming.StreamSessions.{GapBand, GapState}
    implicit val gbEnc = org.apache.spark.sql.Encoders.product[GapBand]
    implicit val gsEnc = org.apache.spark.sql.Encoders.product[GapState]

    val dir = Files.createTempDirectory("graft-sgaps")
    val src = dir.resolve("src").toString
    // the batch boundary splits u1's 1h_1d gap (4600 → 91000): the band
    // for 91000 must come from CARRIED state, not within-batch lag
    val b1 = Seq(("u1", 1000L), ("u1", 1030L), ("u1", 4600L), ("u2", 50L))
    val b2 = Seq(("u1", 91000L), ("u2", 80L))
    b1.toDF("uuid", "time").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long)]
    val q = StreamSessions.statefulGapBands(stream)
      .writeStream.outputMode("append").format("memory").queryName("sgaps")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        "SELECT band, count(*) FROM sgaps GROUP BY 1 ORDER BY 1")
      .as[(String, Long)].collect()
    val batch = graft.agg.Cohorts.interEventGaps(
        (b1 ++ b2).map { case (u, t) => (u, t, "", "", 0L) }
          .toDF("uuid", "time", "event_type", "props", "seq"))
      .orderBy("gap_band").as[(String, Long)].collect()
    assert(streamed === batch)
    assert(streamed.map(_._1).contains("ge_1d"),
      "the cross-batch gap must band from carried state")
  }

  test("stateful gap bands: a late straggler emits nothing and never regresses the carried time") {
    import graft.streaming.StreamSessions.{GapBand, GapState}
    implicit val gbEnc = org.apache.spark.sql.Encoders.product[GapBand]
    implicit val gsEnc = org.apache.spark.sql.Encoders.product[GapState]

    val dir = Files.createTempDirectory("graft-sgaps2")
    val src = dir.resolve("src").toString
    // batch 2 delivers a LATE event (t=50 after t=100000 was seen), then
    // batch 3 an in-order event 30s past the true latest — which must
    // band lt_1m (against 100000), NOT ge_1d (against the stale 50)
    Seq(("u1", 1000L), ("u1", 100000L)).toDF("uuid", "time")
      .coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    Seq(("u1", 50L)).toDF("uuid", "time")
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100)
    Seq(("u1", 100030L)).toDF("uuid", "time")
      .coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long)]
    val q = StreamSessions.statefulGapBands(stream)
      .writeStream.outputMode("append").format("memory").queryName("sgaps2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val bands = spark.sql("SELECT band FROM sgaps2 ORDER BY band")
      .as[String].collect()
    // 1000→100000 = ge_1d; the late 50 emits NOTHING; 100030 vs the
    // carried 100000 = lt_1m
    assert(bands.sorted === Array("ge_1d", "lt_1m"))
  }

  test("stateful lastTouch carries touch state across batches, equal to batch") {
    import graft.streaming.StreamSessions.{AttributionHit, TouchState}
    implicit val hitEnc = org.apache.spark.sql.Encoders.product[AttributionHit]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[TouchState]

    val dir = Files.createTempDirectory("graft-sattr")
    val src = dir.resolve("src").toString
    // batch 1 ends on a touch; batch 2 opens with a conversion that must
    // be credited to it (state genuinely crosses the boundary), then a
    // conversion outside the lookback -> direct.
    val b1 = Seq(("u1", 10L, 1L, "view"), ("u1", 20L, 2L, "click"),
      ("u2", 10L, 3L, "purchase"))
    val b2 = Seq(("u1", 30L, 4L, "purchase"), ("u1", 5000L, 5L, "purchase"))
    b1.toDF("uuid", "time", "seq", "event_type").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "seq", "event_type").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, String)]
    val q = StreamSessions.statefulLastTouch(stream,
        Set("view", "click"), "purchase", lookback = 1000L)
      .writeStream.outputMode("append").format("memory").queryName("sattr")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        "SELECT uuid, time, seq, channel, touchTime FROM sattr")
      .as[AttributionHit].collect()
      .map(h => (h.uuid, h.time, h.seq) -> (h.channel, h.touchTime)).toMap
    val batch = graft.agg.Attribution.lastTouch(
        (b1 ++ b2).toDF("uuid", "time", "seq", "event_type"),
        Seq("view", "click"), "purchase", lookback = 1000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getString(3), Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(streamed === batch)
    assert(streamed(("u1", 30L, 4L)) === (("click", Some(20L))))
    assert(streamed(("u1", 5000L, 5L)) === (("direct", None)))
    assert(streamed(("u2", 10L, 3L)) === (("direct", None)))
  }

  test("stateful twins coalesce NULL event types like the batch operators") {
    import graft.streaming.StreamSessions.{AttributionHit, TouchState,
      FunnelState, FunnelUpdate}
    implicit val hitEnc = org.apache.spark.sql.Encoders.product[AttributionHit]
    implicit val tsEnc = org.apache.spark.sql.Encoders.product[TouchState]
    implicit val updEnc = org.apache.spark.sql.Encoders.product[FunnelUpdate]
    implicit val fsEnc = org.apache.spark.sql.Encoders.product[FunnelState]
    val nul = null.asInstanceOf[String]

    // funnel with "" excluded: the batch op coalesces a NULL type to ""
    // and CLOSES the segment on it; the twin must agree — and must not
    // NPE sorting a (time, seq) tie against a null-typed event (u2)
    val steps = Seq("view", "click", "purchase")
    val ev = Seq(("u1", 10L, 0L, "view"), ("u1", 20L, 1L, "click"),
      ("u1", 25L, 2L, nul), ("u1", 30L, 3L, "purchase"),
      ("u2", 10L, 4L, nul), ("u2", 10L, 5L, "view"))
    val dir = Files.createTempDirectory("graft-snull")
    val src = dir.resolve("src").toString
    ev.toDF("uuid", "time", "seq", "event_type").coalesce(1).write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .as[(String, Long, Long, String)]
    val q = StreamSessions.statefulWindowFunnel(stream, steps,
        window = 100L, exclude = Set(""))
      .writeStream.outputMode("append").format("memory").queryName("snullf")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql("SELECT uuid, funnelLevel, firstTime FROM snullf")
      .as[FunnelUpdate]
      .collect().map(u => u.uuid -> (u.funnelLevel, u.firstTime)).toMap
    val batch = graft.agg.Funnel.windowFunnel(
        ev.map { case (u, t, sq, e) => (u, t, e, sq) }
          .toDF("uuid", "time", "event_type", "seq"),
        steps, window = 100L, exclude = Seq(""))
      .collect()
      .map(r => r.getAs[String]("uuid") ->
        (r.getAs[Long]("funnel_level"), Option(r.getAs[Any]("first_time"))
          .map(_.asInstanceOf[Long]))).toMap
    assert(streamed === batch)
    assert(streamed("u1") === ((2L, Some(10L)))) // null closed the segment

    // lastTouch with conversionType "": a NULL-typed row IS a conversion
    // in the batch op (coalesced) — the twin must score it, not skip it
    val lt = Seq(("u1", 10L, 0L, "click"), ("u1", 20L, 1L, nul))
    val src2 = dir.resolve("src2").toString
    lt.toDF("uuid", "time", "seq", "event_type").coalesce(1).write.parquet(src2)
    val stream2 = spark.readStream
      .schema(spark.read.parquet(src2).schema).parquet(src2)
      .as[(String, Long, Long, String)]
    val q2 = StreamSessions.statefulLastTouch(stream2,
        Set("click"), "", lookback = 100L)
      .writeStream.outputMode("append").format("memory").queryName("snulla")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val streamed2 = spark.sql(
        "SELECT uuid, time, seq, channel, touchTime FROM snulla")
      .as[AttributionHit].collect()
      .map(h => (h.uuid, h.time, h.seq) -> (h.channel, h.touchTime)).toMap
    val batch2 = graft.agg.Attribution.lastTouch(
        lt.toDF("uuid", "time", "seq", "event_type"),
        Seq("click"), "", lookback = 100L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getString(3), Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(streamed2 === batch2)
    assert(streamed2(("u1", 20L, 1L)) === (("click", Some(10L))))
  }

  test("stateful windowFunnel carries slots across batches and matches the batch operator") {
    import graft.streaming.StreamSessions.{FunnelState, FunnelUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[FunnelUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[FunnelState]
    val steps = Seq("view", "click", "purchase")

    val dir = Files.createTempDirectory("graft-sfunnel")
    val src = dir.resolve("src").toString
    val b1 = Seq(("u1", 10L, 0L, "view"), ("u1", 20L, 1L, "click"),
      ("u2", 10L, 2L, "click"))
    val b2 = Seq(("u1", 30L, 3L, "purchase"), ("u2", 40L, 4L, "view"))
    // one file per batch + maxFilesPerTrigger=1 → two REAL micro-batches
    // inside one query, so slot state genuinely crosses a batch boundary
    b1.toDF("uuid", "time", "seq", "event_type").coalesce(1).write.parquet(src)
    Thread.sleep(1100) // distinct mod times → deterministic file order
    b2.toDF("uuid", "time", "seq", "event_type").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, String)]
    val q = StreamSessions.statefulWindowFunnel(stream, steps, window = 100L)
      .writeStream.outputMode("append").format("memory").queryName("sfunnel")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // latest emitted level per trail (last micro-batch wins)
    val streamed = spark.sql(
        """SELECT uuid, funnelLevel, firstTime FROM (
          |  SELECT *, row_number() OVER (PARTITION BY uuid ORDER BY funnelLevel DESC) rn
          |  FROM sfunnel) WHERE rn = 1""".stripMargin)
      .as[FunnelUpdate]
      .collect().map(u => u.uuid -> (u.funnelLevel, u.firstTime)).toMap
    // in-order delivery → must equal the batch operator on the union
    val batch = graft.agg.Funnel.windowFunnel(
        (b1 ++ b2).map { case (u, t, sq, e) => (u, t, e, sq) }
          .toDF("uuid", "time", "event_type", "seq"), steps, window = 100L)
      .collect()
      .map(r => r.getAs[String]("uuid") ->
        (r.getAs[Long]("funnel_level"), Option(r.getAs[Any]("first_time"))
          .map(_.asInstanceOf[Long]))).toMap
    assert(streamed === batch)
    assert(streamed("u1") === ((3L, Some(10L))))
    assert(streamed("u2") === ((1L, Some(40L))))
  }

  test("stateful windowFunnel with exclusion: best segment survives the batch boundary") {
    import graft.streaming.StreamSessions.{FunnelState, FunnelUpdate}
    implicit val updEnc = org.apache.spark.sql.Encoders.product[FunnelUpdate]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[FunnelState]
    val steps = Seq("view", "click", "purchase")

    val dir = Files.createTempDirectory("graft-sfexcl")
    val src = dir.resolve("src").toString
    // u1 completes level 2 in batch 1; batch 2 opens with the error (the
    // best-segment state must cross the boundary) and a weaker restart.
    // u2's error lands BETWEEN its two batch-1 events. u3 has an error and
    // a step at the SAME timestamp — seq (not event_type luck) must decide
    // the replay order, identically in both engines: seq puts the error
    // AFTER the view, so the view is segment 1's chain and survives as
    // best when the error closes it.
    val b1 = Seq(("u1", 10L, 0L, "view"), ("u1", 20L, 1L, "click"),
      ("u2", 10L, 2L, "view"), ("u2", 20L, 3L, "error"), ("u2", 30L, 4L, "view"),
      ("u3", 10L, 5L, "view"), ("u3", 10L, 6L, "error"))
    val b2 = Seq(("u1", 30L, 7L, "error"), ("u1", 40L, 8L, "view"),
      ("u2", 40L, 9L, "click"), ("u2", 50L, 10L, "purchase"))
    b1.toDF("uuid", "time", "seq", "event_type").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "seq", "event_type").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, String)]
    val q = StreamSessions.statefulWindowFunnel(stream, steps,
        window = 100L, exclude = Set("error"))
      .writeStream.outputMode("append").format("memory").queryName("sfexcl")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        """SELECT uuid, funnelLevel, firstTime FROM (
          |  SELECT *, row_number() OVER (PARTITION BY uuid
          |    ORDER BY funnelLevel DESC) rn FROM sfexcl) WHERE rn = 1""".stripMargin)
      .as[FunnelUpdate].collect()
      .map(u => u.uuid -> ((u.funnelLevel, u.firstTime))).toMap
    val batch = graft.agg.Funnel.windowFunnel(
        (b1 ++ b2).map { case (u, t, sq, e) => (u, t, e, sq) }
          .toDF("uuid", "time", "event_type", "seq"),
        steps, window = 100L, exclude = Seq("error"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(streamed === batch)
    assert(streamed("u1") === ((2L, Some(10L))))  // pre-error segment wins
    assert(streamed("u2") === ((3L, Some(30L))))  // post-error chain wins
    assert(streamed("u3") === ((1L, Some(10L))))  // same-ts tie: seq decides
  }

  test("stateful transitions: edges across batches equal the batch matrix incl. probabilities") {
    import graft.streaming.StreamSessions.{Transition, TransState}
    implicit val trEnc = org.apache.spark.sql.Encoders.product[Transition]
    implicit val tsEnc = org.apache.spark.sql.Encoders.product[TransState]

    val dir = Files.createTempDirectory("graft-strans")
    val src = dir.resolve("src").toString
    // u1's view→buy edge SPANS the batch boundary (carried last-type
    // state); a null type must edge as "" like batch; ties break on seq
    val b1 = Seq(("u1", 10L, 1L, "view"), ("u1", 20L, 2L, "click"),
      ("u2", 5L, 1L, null), ("u2", 5L, 2L, "view"))
    val b2 = Seq(("u1", 30L, 3L, "buy"), ("u2", 9L, 3L, "view"))
    b1.toDF("uuid", "time", "seq", "etype").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "seq", "etype").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, Long, String)]
    val q = StreamSessions.statefulTransitions(stream)
      .writeStream.outputMode("append").format("memory").queryName("strn")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        """SELECT fromType, toType, cnt,
          |  round(cnt / sum(cnt) OVER (PARTITION BY fromType), 6) AS p
          |FROM (SELECT fromType, toType, count(*) AS cnt
          |      FROM strn GROUP BY 1, 2)
          |ORDER BY 1, 2""".stripMargin)
      .as[(String, String, Long, Double)].collect().toSeq
    val batch = graft.agg.Attribution.transitions(
        (b1 ++ b2).toDF("uuid", "time", "seq", "event_type")
          .select(col("uuid"), col("time"), col("event_type"), col("seq")))
      .orderBy("from_type", "to_type")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(streamed === batch)
    assert(streamed.exists(t => t._1 == "click" && t._2 == "buy"),
      "the cross-batch edge must come from carried state")
    assert(streamed.exists(t => t._1 == ""),
      "null type must edge as empty string like batch")
  }

  test("stateful type overlap: random corpus under a random 3-way batch split equals batch") {
    import graft.streaming.StreamSessions.{TypePairHit, TypeSetState}
    implicit val tpEnc = org.apache.spark.sql.Encoders.product[TypePairHit]
    implicit val tsEnc = org.apache.spark.sql.Encoders.product[TypeSetState]
    val rnd = new scala.util.Random(73)
    val events = (0 until 300).map { _ =>
      (s"u${rnd.nextInt(25)}", s"t${rnd.nextInt(6)}")
    }
    // random split — types repeat across arbitrary batch boundaries, the
    // case the engineered fixture can't sweep
    val parts = events.map(e => (rnd.nextInt(3), e)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val dir = Files.createTempDirectory("graft-stov-prop")
    val src = dir.resolve("src").toString
    (0 until 3).foreach { b =>
      parts.getOrElse(b, Seq(("u0", "t0"))).toDF("uuid", "etype")
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100)
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, String)]
    val q = StreamSessions.statefulTypeOverlap(stream)
      .writeStream.outputMode("append").format("memory").queryName("stovp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql(
        "SELECT typeA, typeB, count(*) FROM stovp GROUP BY 1, 2 ORDER BY 1, 2")
      .as[(String, String, Long)].collect().toSeq
    val all = events ++ (0 until 3).filterNot(parts.contains)
      .map(_ => ("u0", "t0"))
    val batch = graft.agg.Cohorts.typeOverlap(all.toDF("uuid", "event_type"))
      .orderBy("type_a", "type_b").as[(String, String, Long)].collect().toSeq
    assert(streamed === batch)
    val dup = spark.sql(
      "SELECT 1 FROM stovp GROUP BY uuid, typeA, typeB HAVING count(*) > 1")
    assert(dup.count() === 0L, "a (trail, pair) emitted twice")
  }

  test("stateful n-grams: live path histogram across batches equals batch topNgrams (n=2 and 3)") {
    import graft.streaming.StreamSessions.{NgramHit, NgramState}
    implicit val nhEnc = org.apache.spark.sql.Encoders.product[NgramHit]
    implicit val nsEnc = org.apache.spark.sql.Encoders.product[NgramState]
    val rnd = new scala.util.Random(91)
    val types = Seq("a", "b", "c", "d", null)
    // unique global times → per-trail order is preserved by a
    // time-consecutive split (the operator's in-order delivery contract)
    val events = (0 until 360).map { i =>
      (s"u${rnd.nextInt(20)}", i.toLong, i.toLong, types(rnd.nextInt(5)))
    }
    for (n <- Seq(2, 3)) {
      val dir = Files.createTempDirectory(s"graft-sngram$n")
      val src = dir.resolve("src").toString
      events.grouped(120).foreach { chunk =>
        chunk.toDF("uuid", "time", "seq", "event_type")
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
      }
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[(String, Long, Long, String)]
      val q = StreamSessions.statefulNgrams(stream, n = n)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"sngram$n").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val streamed = spark.sql(
          s"SELECT path, count(*) AS cnt FROM sngram$n GROUP BY 1 ORDER BY 1")
        .as[(String, Long)].collect().toSeq
      val batch = graft.agg.Paths.topNgrams(
          events.toDF("uuid", "time", "seq", "event_type"),
          n = n, limit = 1000000)
        .orderBy("path").as[(String, Long)].collect().toSeq
      assert(streamed === batch, s"n=$n")
      // grams must come from carried cross-batch state too: at least one
      // trail spans a batch boundary by construction (360 events over 20
      // trails in 3 time-consecutive chunks)
      assert(streamed.map(_._2).sum > 0)
    }
  }

  test("stateful retention: active/retained marks across batches equal the batch rollup") {
    import graft.streaming.StreamSessions.{RetentionMark, WeekSetState}
    implicit val rmEnc = org.apache.spark.sql.Encoders.product[RetentionMark]
    implicit val wsEnc = org.apache.spark.sql.Encoders.product[WeekSetState]
    val W = 604800L
    val dir = Files.createTempDirectory("graft-sret")
    val src = dir.resolve("src").toString
    // u1: weeks 5,6 SPAN the batch boundary (retained pair from carried
    // state); u2: duplicate events in week 3 (one active mark), then an
    // OUT-OF-ORDER week 2 in batch 2 completing the (2,3) pair late;
    // u3: isolated week 9 (active only)
    val b1 = Seq(("u1", 5 * W + 10), ("u2", 3 * W + 1), ("u2", 3 * W + 99),
      ("u3", 9 * W))
    val b2 = Seq(("u1", 6 * W + 3), ("u2", 2 * W + 7))
    b1.toDF("uuid", "time").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long)]
    val q = StreamSessions.statefulRetention(stream)
      .writeStream.outputMode("append").format("memory").queryName("sret")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        """SELECT week, count(CASE WHEN mark = 'active' THEN 1 END) AS n_active,
          |       count(CASE WHEN mark = 'retained' THEN 1 END) AS n_retained
          |FROM sret GROUP BY 1 ORDER BY 1""".stripMargin)
      .as[(Long, Long, Long)].collect().toSeq
    // the batch rollup (the t_retention shape) over the same events
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("uuid").orderBy("week")
    val batch = (b1 ++ b2).toDF("uuid", "time")
      .select(col("uuid"), expr("time DIV 604800").as("week")).distinct()
      .withColumn("ret", (lead("week", 1).over(w) === col("week") + 1).cast("long"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        coalesce(sum("ret"), lit(0L)).as("n_retained"))
      .orderBy("week").as[(Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
    // the late week-2 must have completed the (2,3) pair
    assert(streamed.exists(t => t._1 == 2L && t._3 == 1L),
      "late earlier week must still complete its retained pair")
    assert(streamed === Seq((2L, 1L, 1L), (3L, 1L, 0L), (5L, 1L, 1L),
      (6L, 1L, 0L), (9L, 1L, 0L)))
  }

  test("stateful type overlap: exactly-once pairs across batches, matrix equals batch") {
    import graft.streaming.StreamSessions.{TypePairHit, TypeSetState}
    implicit val tpEnc = org.apache.spark.sql.Encoders.product[TypePairHit]
    implicit val tsEnc = org.apache.spark.sql.Encoders.product[TypeSetState]

    val dir = Files.createTempDirectory("graft-sto")
    val src = dir.resolve("src").toString
    // u1's 'buy' lands in batch 2 → its two pairs must come from CARRIED
    // type-set state; u2 REPEATS 'view' in batch 2 → (click,view) must
    // not double-count; deliberately unsorted within each batch — the op
    // is order-insensitive
    val b1 = Seq(("u1", "click"), ("u2", "view"), ("u1", "view"),
      ("u3", "buy"), ("u1", "view"))
    val b2 = Seq(("u2", "click"), ("u1", "buy"), ("u2", "view"), ("u3", "buy"))
    b1.toDF("uuid", "etype").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "etype").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, String)]
    val q = StreamSessions.statefulTypeOverlap(stream)
      .writeStream.outputMode("append").format("memory").queryName("stov")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        "SELECT typeA, typeB, count(*) FROM stov GROUP BY 1, 2 ORDER BY 1, 2")
      .as[(String, String, Long)].collect()
    val batch = graft.agg.Cohorts.typeOverlap(
        (b1 ++ b2).toDF("uuid", "event_type"))
      .orderBy("type_a", "type_b").as[(String, String, Long)].collect()
    assert(streamed === batch)
    assert(streamed.toSeq === Seq(("buy", "click", 1L), ("buy", "view", 1L),
      ("click", "view", 2L)))
    // exactly-once per (trail, pair): no uuid emits a pair twice
    val dup = spark.sql(
      "SELECT 1 FROM stov GROUP BY uuid, typeA, typeB HAVING count(*) > 1")
    assert(dup.count() === 0L)
  }

  test("stateful conversion latency: once-per-trail across batches, histogram equals batch") {
    import graft.streaming.StreamSessions.{ConvState, Conversion}
    implicit val cvEnc = org.apache.spark.sql.Encoders.product[Conversion]
    implicit val csEnc = org.apache.spark.sql.Encoders.product[ConvState]

    val dir = Files.createTempDirectory("graft-scl")
    val src = dir.resolve("src").toString
    // u1 converts ACROSS the batch boundary (carried firstFrom); u2's
    // buy@50 precedes its signup and must not count, its buy@60 TIES the
    // signup time (batch counts equal-time pairs); u4 already converted
    // in batch 1 — the batch-2 buy must not re-emit; u5 never converts
    val b1 = Seq(("u1", 100L, "signup"), ("u2", 50L, "buy"),
      ("u2", 60L, "signup"), ("u3", 10L, "signup"), ("u3", 10L, "buy"),
      ("u4", 0L, "signup"), ("u4", 100L, "buy"), ("u5", 999L, "buy"))
    val b2 = Seq(("u1", 4000L, "buy"), ("u2", 60L, "buy"),
      ("u4", 50000L, "buy"))
    b1.toDF("uuid", "time", "etype").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    b2.toDF("uuid", "time", "etype").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, String)]
    val q = StreamSessions.statefulConversionLatency(stream, "signup", "buy")
      .writeStream.outputMode("append").format("memory").queryName("sconv")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        "SELECT latency DIV 3600 AS bucket, count(*) FROM sconv " +
        "GROUP BY 1 ORDER BY 1")
      .as[(Long, Long)].collect()
    val batch = graft.agg.Cohorts.conversionLatency(
        (b1 ++ b2).toDF("uuid", "time", "event_type"), "signup", "buy")
      .orderBy("bucket").as[(Long, Long)].collect()
    assert(streamed === batch)
    assert(streamed.toSeq === Seq((0L, 3L), (1L, 1L)))
    // once-only: u4 emitted exactly one conversion, latency 100
    assert(spark.sql("SELECT count(*) FROM sconv WHERE uuid = 'u4'")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT latency FROM sconv WHERE uuid = 'u4'")
      .head().getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) FROM sconv WHERE uuid = 'u5'")
      .head().getLong(0) === 0L)
  }

  test("stateful conversion latency: a late earlier fromType never retracts or re-emits") {
    import graft.streaming.StreamSessions.{ConvState, Conversion}
    implicit val cvEnc = org.apache.spark.sql.Encoders.product[Conversion]
    implicit val csEnc = org.apache.spark.sql.Encoders.product[ConvState]
    val dir = Files.createTempDirectory("graft-scl-late")
    val src = dir.resolve("src").toString
    // batch 1 converts u1 at latency 100; batch 2 delivers a LATE
    // earlier signup@50 and a buy@60 — batch semantics over the union
    // would say latency 10, but append mode cannot retract: the pinned
    // contract is ONE emission, the in-order answer, nothing more
    Seq(("u1", 100L, "signup"), ("u1", 200L, "buy"))
      .toDF("uuid", "time", "etype").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    Seq(("u1", 50L, "signup"), ("u1", 60L, "buy"))
      .toDF("uuid", "time", "etype").coalesce(1)
      .write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(String, Long, String)]
    val q = StreamSessions.statefulConversionLatency(stream, "signup", "buy")
      .writeStream.outputMode("append").format("memory").queryName("sconvl")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT uuid, latency FROM sconvl")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("u1", 100L)),
      "late straggler must neither retract nor re-emit the conversion")
  }

  test("stateful conversion latency: from == to converts at latency 0, like batch") {
    import graft.streaming.StreamSessions.{ConvState, Conversion}
    implicit val cvEnc = org.apache.spark.sql.Encoders.product[Conversion]
    implicit val csEnc = org.apache.spark.sql.Encoders.product[ConvState]
    val dir = Files.createTempDirectory("graft-scl0")
    val src = dir.resolve("src").toString
    Seq(("u1", 7L, "ping"), ("u2", 9L, "other")).toDF("uuid", "time", "etype")
      .coalesce(1).write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .as[(String, Long, String)]
    val q = StreamSessions.statefulConversionLatency(stream, "ping", "ping")
      .writeStream.outputMode("append").format("memory").queryName("sconv0")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT uuid, latency FROM sconv0")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("u1", 0L)))
    val batch = graft.agg.Cohorts.conversionLatency(
        Seq(("u1", 7L, "ping"), ("u2", 9L, "other"))
          .toDF("uuid", "time", "event_type"), "ping", "ping")
      .as[(Long, Long)].collect().toSeq
    assert(batch === Seq((0L, 1L)))
  }

  test("streaming index search: ADC top-k over a frozen IVF-PQ index equals batch execution") {
    val dir = Files.createTempDirectory("graft-sidx")
    val rnd = new scala.util.Random(17)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val corpus = (0 until 200).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding").localCheckpoint()
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfPqIndex(corpus, idx,
      nCells = 4, m = 2, codebookK = 8, dim = 8)
    // two disjoint query batches — each query's top-k finalizes in the
    // micro-batch that carries it, so update mode emits it exactly once
    val q1 = (1000 until 1004).map(i => (i.toLong, vec()))
    val q2 = (2000 until 2004).map(i => (i.toLong, vec()))
    val src = s"$dir/src"
    q1.toDF("vec_id", "embedding").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    q2.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = graft.ops.Similarity.streamingIndexSearch(idx, stream, k = 3)
      .writeStream.outputMode("update").format("memory").queryName("sidx")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql(
        "SELECT query_id, rank, corpus_id, adc FROM sidx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).sorted.toSeq
    // batch execution of the SAME pipeline over the same queries
    val batchQ = (q1 ++ q2).toDF("vec_id", "embedding")
    val batch = graft.ops.Similarity.streamingIndexSearch(idx, batchQ, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.map(_._1).distinct.size === 8 &&
      streamed.size === 24, "each of 8 queries must emit exactly k=3 rows")
  }

  test("pruned streaming index search: equal rows to the declarative twin, partition-pruned per batch") {
    val dir = Files.createTempDirectory("graft-sidxp")
    val rnd = new scala.util.Random(19)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val corpus = (0 until 200).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding").localCheckpoint()
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfPqIndex(corpus, idx,
      nCells = 4, m = 2, codebookK = 8, dim = 8)
    val qs = (500 until 506).map(i => (i.toLong, vec()))
    val src = s"$dir/src"
    qs.take(3).toDF("vec_id", "embedding").coalesce(1).write.parquet(src)
    Thread.sleep(1100)
    qs.drop(3).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)

    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Long)]
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = graft.ops.Similarity.streamingIndexSearchPruned(idx, stream, k = 3) {
      (batchDf, _) =>
        plans += batchDf.queryExecution.executedPlan.toString
        collected ++= batchDf.collect().map(r => (r.getLong(0), r.getInt(1),
          r.getLong(2), math.round(r.getDouble(3) * 1e9)))
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val declarative = graft.ops.Similarity.streamingIndexSearch(idx,
        qs.toDF("vec_id", "embedding"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).sorted.toSeq
    assert(collected.sorted.toSeq === declarative,
      "pruned foreachBatch path diverged from the declarative twin")
    // every per-batch codes scan must carry PartitionFilters (the prune
    // the declarative stream-static join cannot have)
    assert(plans.nonEmpty && plans.forall(p =>
      p.contains("PartitionFilters: [cell")),
      s"no partition pruning in a batch plan:\n${plans.head.take(1500)}")
  }

  test("compaction + atomic swap: streams see a consistent snapshot on both sides (r9 VERDICT item 8)") {
    // The deployment pattern TrailDB.compact documents (periodic rebuild
    // into a NEW dir, then an atomic rename swap) meets Structured
    // Streaming: a db dir is only a valid file source while its files
    // are immutable, so the swap contract is (a) each side of the swap
    // is a CONSISTENT snapshot — a fresh stream over either path returns
    // exactly its batch rows, never a mix of old and compacted files —
    // and (b) the retired snapshot stays intact at its retirement path,
    // so an in-flight reader that resolved the old file list completes
    // unchanged. (A checkpointed stream must NOT be resumed across an
    // in-place swap — the file source would see the compacted files as
    // appends; restart fresh or stream the ingest log instead.)
    import java.nio.file.{Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-compact-swap")
    val rows = for (u <- 1 to 3; i <- 0 until 10)
      yield (f"$u%032x", 1000L + i * 10, i.toLong, s"e${i % 3}")
    val df = rows.toDF("uuid", "time", "seq", "event_type")
    val serving = dir.resolve("serving").toString
    new graft.core.TrailDBCons(spark, Seq("event_type"))
      .add(df).finalizeTo(serving)

    def streamAll(path: String, name: String): Seq[(String, Long, String)] = {
      val st = spark.readStream
        .schema(spark.read.parquet(path).schema).parquet(path)
      val q = st.select("uuid", "time", "event_type").writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.sql(s"select uuid, time, event_type from $name").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted
    }

    // pre-swap: stream == batch == source
    val s1 = streamAll(serving, "swap_pre")
    assert(s1 === rows.map(t => (t._1, t._2, t._4)).sorted)

    // compact keepLast=5 into a sibling dir, swap by rename (old snapshot
    // retired, never rewritten in place)
    val old = graft.core.TrailDB.open(spark, serving)
    val next = dir.resolve("serving.next").toString
    new graft.core.TrailDBCons(spark, old.fields)
      .add(old.compact(keepLast = 5)).finalizeTo(next)
    val retired = dir.resolve("serving.v1")
    Files.move(Paths.get(serving), retired,
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(next), Paths.get(serving),
      StandardCopyOption.ATOMIC_MOVE)

    // post-swap: a fresh stream sees exactly the compacted snapshot =
    // the per-trail (time, seq)-suffix of the original
    val s2 = streamAll(serving, "swap_post")
    val wantSuffix = rows.filter(_._3 >= 5).map(t => (t._1, t._2, t._4)).sorted
    assert(s2 === wantSuffix && s2.size === 15)
    // and the swapped db still opens as a TrailDB (sidecar moved with it;
    // rename preserved the fingerprint)
    assert(graft.core.TrailDB.open(spark, serving).numEvents === 15L)

    // the retired snapshot serves in-flight readers byte-for-byte
    val s3 = streamAll(retired.toString, "swap_retired")
    assert(s3 === s1)
  }

  test("typed TrailSummaryAggregator folds trails with partial aggregation") {
    val events = Seq(
      TrailEvent("u1", 10L, Map("a" -> "x")),
      TrailEvent("u1", 99L, Map("a" -> "y")),
      TrailEvent("u2", 5L, Map())).toDS()
    val got = events.groupByKey(_.uuid)
      .agg(TrailSummaryAggregator.toColumn.name("summary"))
      .collect().toMap
    assert(got("u1") === graft.agg.TrailSummary(10L, 99L, 2L))
    assert(got("u2") === graft.agg.TrailSummary(5L, 5L, 1L))
  }

  test("awaitDrained stops and refuses a stream that outlives its timeout, rethrows a failed one") {
    val dir = Files.createTempDirectory("graft-stream-await")
    val src = dir.resolve("src").toString
    Seq(1L, 2L, 3L).toDF("x").write.parquet(src)
    def source = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
    // a processing-time stream never finishes on its own
    val live = source.writeStream.format("noop")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    val e = intercept[java.util.concurrent.TimeoutException](
      StreamSessions.awaitDrained(live, 200))
    assert(e.getMessage.contains("did not finish within 200 ms"), e.getMessage)
    assert(!live.isActive, "the timed-out stream is still running")
    // a stream whose batch fails surfaces the failure, not a short sink
    val failing = source.writeStream
      .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new IllegalStateException("batch exploded"))
      .trigger(Trigger.AvailableNow()).start()
    val f = intercept[Exception](StreamSessions.awaitDrained(failing, 60000))
    assert(f.getMessage.contains("batch exploded"), f.getMessage)
    // a stream that drains returns normally
    val ok = source.writeStream.format("noop")
      .trigger(Trigger.AvailableNow()).start()
    StreamSessions.awaitDrained(ok, 60000)
    assert(!ok.isActive)
  }

  test("memory-sink rows drop their temp view and still return their rows") {
    // a small input dir with the columns the five stream rows read
    val dir = Files.createTempDirectory("graft-stream-views").toString
    (0 until 16).map(i => (i.toLong, s"document ${i % 12}"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    (0 until 30).map(i => (i.toLong, new java.sql.Timestamp(300000L * i),
        (i % 3).toLong, s"e${i % 2}", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    def views(prefix: String): Seq[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(prefix)).toSeq
    val rows = Seq("t_stream_sessionize" -> "t_stream_sess_",
      "d_stream_dedup" -> "d_stream_dedup_",
      "m_stream_image_dedup" -> "m_stream_image_dedup_",
      "m_stream_audio_dedup" -> "m_stream_audio_dedup_",
      "m_stream_video_dedup" -> "m_stream_video_dedup_")
    val out = rows.map { case (row, prefix) =>
      val df = SparkEntry.queries(row)(spark, dir)
      assert(views(prefix).isEmpty, s"$row left its memory-sink view")
      row -> df.collect()
    }.toMap
    // the frames ran after their views were dropped
    assert(out("t_stream_sessionize").map(_.getAs[Long]("num_events")).sum === 30L)
    val dedup = out("d_stream_dedup").head
    assert(dedup.getAs[Long]("n_total") === 16L)
    assert(dedup.getAs[Long]("n_keys") === 12L)
    assert(dedup.getAs[Boolean]("kept_eq_keys"))
    assert(dedup.getAs[Long]("violations") === 0L)
  }
}
