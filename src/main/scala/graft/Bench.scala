package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query executes its FULL physical plan via queryExecution.toRdd —
  * a plain df.count() would let Catalyst prune projections/sorts and
  * under-measure the real work. A session warmup runs first so query #1
  * doesn't carry JVM/codegen init cost.
  *
  * ISOLATION: every query runs SPARK_GRAFT_BENCH_REPEATS times (default 2;
  * use 3+ for local adjudication runs) and reports the MIN — one shared
  * JVM is unavoidable (150 cold Spark starts would swamp the signal with
  * startup cost). The cache is cleared between queries so no query reads
  * another's cached data; shared on-disk fixtures (SparkEntry.Fixtures)
  * are built on the first run, so the min measures the operator, not
  * fixture setup.
  *
  * SELF-ADJUDICATION: at 150 queries the shared-JVM min-of-2 sweep no
  * longer yields per-query-reliable numbers (BENCH_r08: d_bm25 6.55 s
  * in-sweep vs 0.74 s isolated — a 9× artifact phantom). The sweep is
  * therefore only a SCREEN: rows landing >1.5× above their prior-round
  * time (bench_prior.json) are re-measured isolated (GC quiesce,
  * min-of-3) at the end of the run, both numbers go into an
  * "adjudicated" block, and the recorded per-query time is
  * min(sweep, isolated) — so a recorded number can exceed 1.5× its
  * isolated time ONLY for a query named in "unadjudicated_suspects":
  * every suspect is re-measured until the adjudication wall-time budget
  * (SPARK_GRAFT_BENCH_ADJ_BUDGET, default 180 s) runs out — enforced
  * PREDICTIVELY at 3·sweepMin per suspect since round 17, so one heavy
  * suspect can no longer overrun the wall by its own full cost — and
  * any remainder is published by name rather than silently skipped
  * (round 16 — the former fixed 15-slot cap let BENCH_r15 record six
  * phantom regressions it never re-measured). Refresh the prior
  * snapshot with SPARK_GRAFT_BENCH_WRITE_PRIOR=1 after the session's
  * FIRST clean local sweep and =min after every later one (per-query
  * minima — rebasing to a single late sweep bakes ambient drift into
  * the baseline, r16's finding).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // JVM/codegen/shuffle/parquet warmup outside the timed region — the
    // alphabetically-first query otherwise absorbs several seconds of
    // scan-path JIT that belongs to no query.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(1000L).repartition(8).count()
    // An sf dir without documents skips this warm-up; any other failure
    // is real and stops the bench.
    try {
      val docs = graft.core.ParquetInputs.read(spark, s"$sfDir/documents.parquet")
      docs.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))).collect()
    } catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => ()
    }

    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt.max(1)
    val selected = if (args.nonEmpty) args.toSet else SparkEntry.queries.keySet
    // A repeat that throws records +Inf, not its (fast) elapsed time — a
    // transiently-failing query must never masquerade as a fast pass under
    // min-of-N (r5 ADVICE). All repeats failing → the query reports +Inf,
    // which JSON-serializes as a loud "inf" and fails any numeric gate.
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
    }
    val sweep = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => selected.contains(q._1)).map { case (name, fn) =>
      name -> (1 to repeats).map(_ => timeOnce(name, fn)).min
    }

    // SELF-ADJUDICATION (round 9): at 150 queries × repeats=2 in one
    // shared JVM, min-of-2 no longer absorbs GC/JIT/page-cache
    // interference — BENCH_r08 recorded 9× phantom regressions (d_bm25
    // 6.55 s in-sweep vs 0.74 s isolated min-of-3). So the sweep is now a
    // SCREEN, not a verdict: any query whose sweep min exceeds its
    // prior-round time (bench_prior.json, refreshed each round from the
    // last clean sweep) by >1.5× is re-run at the END of the JVM — after
    // a GC quiesce, min-of-3, cache cleared per run — and BOTH numbers
    // are recorded under "adjudicated". The per-query time the artifact
    // reports is min(sweep, isolated), so a recorded time can never sit
    // >1.5× above what the same JVM measures in isolation. With no prior
    // file the slowest 8 rows are adjudicated instead (the rows a plan
    // audit reads first).
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "bench_prior.json")
    val knownQ = SparkEntry.queries.keySet
    val prior: Map[String, Double] = {
      val f = new java.io.File(priorPath)
      if (!f.isFile) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val re = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
        re.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(kv => knownQ.contains(kv._1)).toMap
      }
    }
    // Suspects: rows >1.5× their prior, plus rows with NO prior at all —
    // a first-time query has no clean reference, so its first recorded
    // number should be the isolated one, not a sweep artifact. No-prior
    // rows sort first (infinite ratio), regressions follow in ratio
    // order. The 0.3 s floor applies to no-prior rows too: a sub-0.3 s
    // first appearance can't hide a meaningful phantom.
    //
    // Round 16: the former FIXED 15-slot cap was a SILENT cap — BENCH_r15
    // filled its slots with high-ratio suspects and recorded six >1.5×
    // phantoms it never re-measured, contradicting the guarantee above.
    // Now EVERY suspect is adjudicated until the isolated re-runs have
    // consumed SPARK_GRAFT_BENCH_ADJ_BUDGET wall seconds (default 180 —
    // ~1.5 s per re-run, so the budget covers every plausible suspect
    // count); only if the budget runs out is the remainder skipped, and
    // then each skipped name is PUBLISHED in "unadjudicated_suspects" so
    // the artifact itself says which rows may be phantoms.
    val suspects: Seq[(String, Double)] =
      if (prior.nonEmpty)
        sweep.filter { case (n, v) =>
          v.isFinite && v > 0.3 &&
            prior.get(n).forall(p => v > p * 1.5) }
          .sortBy { case (n, v) =>
            -prior.get(n).map(p => v / p).getOrElse(Double.MaxValue) }
      else sweep.filter(_._2.isFinite).sortBy(-_._2).take(8)
    val adjBudgetSec = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_ADJ_BUDGET", "180").toDouble
    val adjudicatedBuf =
      scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double))]
    val unadjudicated = scala.collection.mutable.ArrayBuffer.empty[String]
    var adjSpent = 0.0
    suspects.foreach { case (name, sweepMin) =>
      // The budget is enforced PREDICTIVELY: a suspect only starts when
      // its estimated cost (3 isolated re-runs, each bounded above by
      // the sweep time it is suspected of inflating) still fits — before
      // round 17 the check was a soft pre-check and one heavy suspect
      // could overrun the "wall seconds" budget by its own full cost
      // (r16 ADVICE). Isolated runs are almost always FASTER than their
      // sweep number (that is the phantom mechanism adjudication
      // exists for), so 3·sweepMin over-estimates and the budget can
      // only be exceeded by a query whose isolated runs are slower than
      // its sweep — bounded, and then the row was a true regression
      // worth the overrun. A no-prior first-time row uses the same
      // estimate. The FIRST suspect always runs (suspects are sorted
      // worst-ratio-first): without the floor, one query whose sweep
      // alone exceeds budget/3 could never be adjudicated in any round
      // — the exact phantom blind spot this stage exists to close.
      if (adjudicatedBuf.isEmpty ||
          adjSpent + 3 * (if (sweepMin.isFinite) sweepMin else 0.0)
            <= adjBudgetSec) {
        val t0 = System.nanoTime()
        spark.catalog.clearCache(); System.gc(); Thread.sleep(100)
        val iso = (1 to 3).map(_ => timeOnce(name, SparkEntry.queries(name))).min
        adjSpent += (System.nanoTime() - t0) / 1e9
        adjudicatedBuf += (name -> (sweepMin, iso))
      } else unadjudicated += name
    }
    if (unadjudicated.nonEmpty)
      System.err.println(s"[bench] adjudication budget ($adjBudgetSec s) " +
        s"left no headroom after ${adjudicatedBuf.size} suspects " +
        f"($adjSpent%.1f s spent; remaining estimated at 3x their sweep " +
        s"time); ${unadjudicated.size} NOT re-measured: " +
        unadjudicated.mkString(", "))
    val adjudicated: Seq[(String, (Double, Double))] = adjudicatedBuf.toSeq
    val adjMap = adjudicated.toMap
    val results = sweep.map { case (n, v) =>
      n -> adjMap.get(n).map(t => math.min(v, t._2)).getOrElse(v) }
    // Millisecond precision keeps the one-line contract readable at 80+
    // queries. The harness that collects this output keeps only an
    // end-anchored ~2000-char tail, and sbt appends its own "[success]"
    // trailer — at 90 queries the full map line no longer fits, so it is
    // printed first (complete, for whole-output consumers) and then a
    // second, size-bounded summary line goes LAST: same schema, "queries"
    // holding the slowest entries that fit a ~1300-char budget, so an
    // end-anchored capture always contains one complete parseable object.
    // +Inf (all repeats failed) renders as JSON null — "%.3f" would emit
    // the bare literal `Infinity`, which is NOT JSON and would make a
    // strict parser reject the WHOLE line, losing every query's timing.
    // The failed queries are ALSO named in a "failed" array so the gate
    // stays loud even for consumers that only read the totals.
    def f3(v: Double): String =
      if (v.isInfinite || v.isNaN) "null"
      else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val failedQs = results.filter(_._2.isInfinite).map(_._1)
    val failedJson =
      s""""failed":[${failedQs.map("\"" + _ + "\"").mkString(",")}],"""
    // Both numbers per adjudicated row — sweep (interfered) and isolated
    // (min-of-3 after GC quiesce) — so a reader can see the phantom size
    // without re-running anything.
    val adjJson = adjudicated.sortBy(_._1).map { case (n, (sw, iso)) =>
      "\"" + n + "\":{\"sweep\":" + f3(sw) + ",\"isolated\":" + f3(iso) + "}"
    }.mkString("\"adjudicated\":{", ",", "},") +
      s""""unadjudicated_suspects":[${
        unadjudicated.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""prior":${if (prior.nonEmpty) "\"" + priorPath + "\"" else "null"},"""
    def line(entries: Seq[(String, Double)], extra: String): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,$extra$adjJson$failedJson"sf":"$sfDir","total_sec":${f3(total)}}"""
    }
    val fullLine = line(results, "")
    println(fullLine)
    // The full line ALSO lands in a file (cwd, env-overridable): the
    // captured-stdout tail is end-anchored at ~2000 chars, so whole-map
    // consumers read the artifact instead of hoping the line survives
    // truncation (BENCH_r16 "parsed": null — the tail never machine-
    // parsed in any round).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    val bySlowest = results.sortBy(-_._2)
    val extraOf = (k: Int) =>
      s""""n_queries":${results.length},"repeats":$repeats,"queries_omitted_fastest":${results.length - k},"""
    var k = bySlowest.length
    while (k > 1 && line(bySlowest.take(k), extraOf(k)).length > 1600) k -= 1
    val kept = bySlowest.take(k).sortBy(_._1)
    println(line(kept, extraOf(k)))
    // Optional: refresh the committed prior snapshot from this run's
    // recorded (post-adjudication) numbers — run locally each round so
    // the next driver sweep screens against a clean baseline.
    // WRITE_PRIOR=1 overwrites (first sweep of a session);
    // WRITE_PRIOR=min merges per-query MINIMA with the existing file
    // (every later sweep of the same session). Min-of-N is the standard
    // noise-floor estimator — r16 rebased to the LAST of three same-day
    // sweeps (167.6 → 188.0 s ambient spread) and baked ~12% inflation
    // into the next round's regression baseline, the slow-creep blind
    // spot the adjudicator cannot see. Rows the current run does not
    // know (renamed/removed queries) are dropped on merge.
    val priorMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_WRITE_PRIOR", "")
    if (priorMode == "1" || priorMode == "min") {
      val merged = results.filter(_._2.isFinite).map { case (n, v) =>
        n -> (if (priorMode == "min") math.min(v, prior.getOrElse(n, v)) else v)
      }
      val qs = merged.sortBy(_._1)
        .map { case (n, v) => "  \"" + n + "\": " + f3(v) }
        .mkString("{\n", ",\n", "\n}")
      val src = if (priorMode == "min")
        "local post-adjudication sweep (per-query min across session sweeps)"
      else "local post-adjudication sweep"
      val body = s"""{"source":"$src","sf":"$sfDir","queries":$qs}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(priorPath),
        body.getBytes("UTF-8"))
      System.err.println(s"[bench] wrote prior snapshot to $priorPath (mode=$priorMode)")
    }
    spark.stop()
    // A bench with failing queries is a FAILED bench — exit non-zero so
    // any rc-checking consumer rejects the artifact instead of recording
    // a round whose totals are null (r7: all 42 trail queries failed on a
    // schema regression while the bench still exited 0).
    if (failedQs.nonEmpty) {
      System.err.println(
        s"[bench] ${failedQs.length} queries failed: ${failedQs.mkString(", ")}")
      sys.exit(2)
    }
  }
}
