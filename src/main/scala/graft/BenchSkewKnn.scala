package graft

import org.apache.spark.sql.functions._

/** Dev benchmark for the two-tier banded top-k under SKEW: plants ~1/997 of
  * the noconsent probes 1e7 x-units away from the bulk (the pathological
  * sparse-x-region probe whose adaptive radius used to widen the whole
  * cohort's band width), then times dense vs banded top-k on the same
  * skewed cohort and checks the row counts agree. Results recorded in
  * DESIGN.md §10.
  *
  * Usage: graft.BenchSkewKnn [sfDir] [k]
  */
object BenchSkewKnn {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Sessions.registry()

    val (c, nc) = Cohorts.cohorts(spark, sfDir)
    val ncSkew = nc.withColumn("c_acctbal",
      when(pmod(col("idx"), lit(997)) === 0, col("c_acctbal") + lit(1.0e7))
        .otherwise(col("c_acctbal")))

    def time(label: String)(df: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[skew-bench] $label%-22s $dt%8.2f s  ($n rows)")
      (dt, n)
    }

    val (tBand, nBand) = time("banded two-tier") {
      NeighborJoin.topKBanded(c, ncSkew, Cohorts.spec, k)
    }
    val (tDense, nDense) = time("dense window") {
      NeighborJoin.topK(
        NeighborJoin.pairs(c, ncSkew, Cohorts.spec, broadcastConsent = true),
        Cohorts.spec, k.toDouble)
    }
    require(nBand == nDense, s"row mismatch: banded=$nBand dense=$nDense")
    println(f"[skew-bench] speedup dense/banded = ${tDense / tBand}%.2fx")
    spark.stop()
  }
}
