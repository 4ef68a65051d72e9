package graft
/** Dev tool: replicate the driver's entry smoke check (rows > 0). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.registry()
    val df = SparkEntry.entry(spark)
    println(s"entry rows=${df.count()} cols=${df.columns.length}")
    df.show(3, truncate = false)
    spark.stop()
  }
}
