package graft

/** Dev tool: print the formatted physical plan of one SparkEntry query.
  * Usage: graft.Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.registry()
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
