package graft.tools

/** Dev tool: dump formatted physical plans for selected SparkEntry queries,
  * or (with `--audit`) a one-line-per-query plan summary: scans, pushed
  * filters, exchanges, broadcasts, codegen spans.
  * Usage: runMain graft.tools.Explain <sfDir> [--audit | queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val audit = args.contains("--audit")
    val names = if (args.length > 1 && !audit) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession()
    if (audit) {
      // (whole-stage-codegen spans aren't visible pre-execution under AQE,
      // so they are deliberately not reported here)
      println(f"${"query"}%-22s scans  pushed  exch  bcast")
      names.foreach { n =>
        try {
          val plan = graft.SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.executedPlan.toString
          def c(p: String) = p.r.findAllIn(plan).length
          println(f"$n%-22s ${c("Scan parquet")}%5d  " +
            f"${c("PushedFilters: \\[[^]]")}%6d  ${c("Exchange")}%4d  " +
            f"${c("BroadcastExchange")}%5d")
        } catch { case e: Throwable => println(f"$n%-22s FAILED: ${e.getMessage.take(60)}") }
      }
    } else names.foreach { n =>
      println(s"\n========== $n ==========")
      try graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
