import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Job timeline of warm `RunPipeline.runForDates` calls on one perfbench
  * input set: jobs, job-busy seconds (the union of job intervals), driver
  * idle seconds (wall minus busy) and the gap with no job running just
  * before the first job of the adjusted-data write.
  *
  * Compile against a perfbench build (`.bench_build/perfbench/classes`)
  * and Spark's jars; run with the same JVM flags as perfbench:
  *   RunProfile <inputsDir> <outDir> <cpus> <profiledRuns>
  * Session confs are perfbench's (`RunPipeline.main`'s). One cold and one
  * untimed warm-up run precede the profiled runs; after each run every
  * cached relation and persisted RDD is released, as perfbench does. */
object RunProfile {
  final case class Job(exec: Long, start: Long, var end: Long = -1L)

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, cpus, reps) = args
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val in = perfbench.Inputs(new File(inDir))
    val jobs = new ConcurrentHashMap[Int, Job]()
    val execDetails = new ConcurrentHashMap[Long, String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val exec = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
        jobs.put(j.jobId, Job(exec, j.time))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execDetails.put(s.executionId, s.details)
        case _ =>
      }
    })
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def once(i: String): (Long, Long) = {
      BenchBus.drain(sc)
      jobs.clear()
      val t0 = System.currentTimeMillis()
      graft.RunPipeline.runForDates(spark, in.consent, in.noconsent, s"$outDir/run-$i",
        in.strategy, in.dates)
      val t1 = System.currentTimeMillis()
      BenchBus.drain(sc)
      (t0, t1)
    }
    once("cold"); release()
    once("warm-up"); release()
    for (r <- 0 until reps.toInt) {
      val (t0, t1) = once(r.toString)
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      // union of job intervals
      var busy = 0L
      var curS = -1L
      var curE = -1L
      js.foreach { j =>
        if (j.start > curE) { if (curE > curS) busy += curE - curS; curS = j.start; curE = j.end }
        else curE = math.max(curE, j.end)
      }
      if (curE > curS) busy += curE - curS
      val isWrite = (j: Job) =>
        Option(execDetails.get(j.exec)).exists(_.contains("writeCsvExact"))
      val firstWrite = js.find(isWrite)
      val gap = firstWrite.map { w =>
        val before = js.filter(_.end <= w.start).map(_.end)
        (w.start - (if (before.isEmpty) t0 else before.max)) / 1e3
      }.getOrElse(Double.NaN)
      val wall = (t1 - t0) / 1e3
      // the three longest stretches with no job running
      var horizon = t0
      val gaps = (Seq(t0 -> t0) ++ js.map(j => j.start -> j.end) :+ (t1 -> t1)).sliding(2).map {
        case Seq(a, b) => horizon = math.max(horizon, a._2); (b._1 - horizon) / 1e3
      }.toSeq.sorted.reverse.take(3)
      println(f"""{"run": $r, "wall_s": $wall%.3f, "jobs": ${js.size}, """ +
        f""""job_busy_s": ${busy / 1e3}%.3f, "driver_idle_s": ${wall - busy / 1e3}%.3f, """ +
        f""""gap_before_data_write_s": $gap%.3f, "longest_idle_gaps_s": [${gaps.map(g => f"$g%.3f").mkString(", ")}]}""")
      release()
    }
    spark.stop()
  }
}
