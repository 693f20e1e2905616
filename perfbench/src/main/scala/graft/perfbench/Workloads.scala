package graft.perfbench

/** The benchmark's row list. Rows are names in `graft.SparkEntry.queries`;
  * each belongs to a family by its prefix. */
object Workloads {
  /** Short trail and SQL queries, where the per-query Catalyst and job
    * floor dominates, then composed data-pipeline rows, where eager build
    * jobs and CPU-dense kernels do. */
  val Queries: Seq[String] = Seq(
    "t_filter_cnf", "t_point_lookup", "t_metadata_rule", "t_funnel",
    "t_sessionize", "t_asof_native", "q1_pricing",
    "d_bm25", "e_knn_brute", "d_stream_dedup")

  def family(row: String): String = row.take(2) match {
    case p if p.startsWith("q") => "sql"
    case "t_" => "trail"
    case "d_" => "text"
    case "e_" => "vector"
    case _ => "storage"
  }

  /** Query rows of a workload; empty for the storage workload. */
  def rows(workload: String): Seq[String] = workload match {
    case "queries" => Queries
    case "tdb_storage" => Nil
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
