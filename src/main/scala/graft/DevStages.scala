package graft

import org.apache.spark.sql.DataFrame

/** Dev profiler: run ONE SparkEntry query with per-stage call-site
  * attribution and per-SQL-execution wall breakdown — locates which
  * operator of a multi-stage chain carries the task time.
  * Usage: DevStages <name> [sfDir]. One warm rep, which prints the
  * formatted physical plan, then one attributed rep.
  */
object DevStages {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("Usage: DevStages <name> [sfDir]")
      sys.exit(2)
    }
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val queries = SparkEntry.queries
    val fn = queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; known: ${queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = Sessions.registry()
    case class St(name: String, wall: Double, tasks: Int, taskTime: Double,
                  site: String)
    val done = new java.util.concurrent.CopyOnWriteArrayList[St]()
    // per-SQL-execution attribution: execution id -> (desc, start ns)
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
    val execDone = new java.util.concurrent.CopyOnWriteArrayList[(Long, String, Double)]()
    // stage -> SQL execution attribution: JobStart carries the execution id
    // property and its stage ids (AQE stage-materialization jobs run on
    // pool threads whose call sites carry no user frames — the execution
    // id is the only reliable link).
    val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => j.stageIds.foreach(s =>
            stageExec.put(s.toInt, id.toLong)))
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for { a <- i.completionTime; b <- i.submissionTime }
          yield (a - b) / 1e3).getOrElse(0.0)
        val eid = Option(stageExec.get(i.stageId)).map(e => s"exec $e")
        val site = i.details.linesIterator
          .filter(l => l.contains("graft") && !l.contains("DevStages"))
          .take(2).mkString(" <- ")
        done.add(St(i.name, wall, i.numTasks,
          i.taskMetrics.executorRunTime / 1e3,
          eid.map(e => s"$e | $site").getOrElse(site)))
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.put(s.executionId, (s.description, System.nanoTime()))
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            Option(execs.get(s.executionId)).foreach { case (d, t0) =>
              execDone.add((s.executionId, d,
                (System.nanoTime() - t0) / 1e9))
            }
          case _ =>
        }
    })
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm rep
    val warm = fn(spark, dir)
    warm.explain("formatted")
    noop(warm)
    spark.catalog.clearCache()
    done.clear()
    execDone.clear()
    val t0 = System.nanoTime()
    noop(fn(spark, dir))
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val rows = done.asScala.toSeq
    println(f"[devs] $name wall ${wall}%.2f s, ${rows.size} stages, " +
      f"stage-wall sum ${rows.map(_.wall).sum}%.2f s, " +
      f"task-time sum ${rows.map(_.taskTime).sum}%.2f s")
    rows.groupBy(_.site).toSeq
      .map { case (n, ss) =>
        (ss.map(_.taskTime).sum, ss.map(_.wall).sum, ss.size,
          ss.map(_.tasks).sum, n) }
      .sortBy(-_._1)
      .take(40)
      .foreach { case (tt, w, c, t, n) =>
        println(f"[devs] task ${tt}%7.2f s wall ${w}%6.2f s n=$c%3d tasks=$t%5d  ${n.take(200)}") }
    execDone.asScala.toSeq.sortBy(_._1).foreach { case (id, d, w) =>
      println(f"[deve] exec $id%4d ${w}%6.2f s  ${d.take(110)}") }
    spark.stop()
  }
}
