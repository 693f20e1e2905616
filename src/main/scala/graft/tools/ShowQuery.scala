package graft.tools

/** Dev tool: run one SparkEntry query and print its rows — the quick loop
  * for measuring contract floors (recall, drop counts) before hard-coding
  * them into an invariant oracle.
  * Usage: runMain graft.tools.ShowQuery <sfDir> <queryName> [<queryName>…]
  */
object ShowQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShowQuery <sfDir> <queryName>...")
    val sfDir = args.head
    val spark = graft.GraftSession()
    args.drop(1).foreach { name =>
      println(s"===== $name @ $sfDir =====")
      graft.SparkEntry.queries(name)(spark, sfDir).show(100, truncate = false)
    }
    spark.stop()
  }
}
