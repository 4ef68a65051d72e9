package graft

/** SQL entry point: run one SQL statement against the testdata tables with
  * graft's native functions registered (activate with
  * `-Dspark.sql.extensions=graft.expr.GraftExtensions`).
  * Usage: graft.SqlRunner "<sql>" [sfDir]
  */
object SqlRunner {
  def main(args: Array[String]): Unit = {
    val sql = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.registry()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      val p = new java.io.File(s"$sfDir/$t.parquet")
      if (p.exists())
        spark.read.parquet(p.toString).createOrReplaceTempView(t)
    }
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }
}
