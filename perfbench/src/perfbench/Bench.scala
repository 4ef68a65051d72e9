package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import graft._

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** One generated input set (see gen.py). */
final case class Inputs(dir: File) {
  val consent: String = new File(dir, "consent").getPath
  val noconsent: String = new File(dir, "noconsent").getPath
  val datesFile: String = new File(dir, "dates.txt").getPath
  val expected: Expected = Expected.load(new File(dir, "manifest.json"))
  val dates: Seq[String] = expected.dates
  val strategyArg: String =
    Json.mapper.readTree(new File(dir, "manifest.json")).get("strategy").asText
  val strategy: MatchStrategy = RunPipeline.parseStrategy(strategyArg)

  def cliArgs(out: File): Array[String] =
    Array(consent, noconsent, out.getPath, strategyArg, datesFile)
}

/** The in-JVM half of the benchmark; run.py launches it and reads the JSON
  * it writes to `--result`.
  *
  * It builds its session with the confs of `RunPipeline.main` (`setup_s`
  * is the time from `--launch-ms`, the moment the JVM was started, until
  * the session is ready) and runs [[graft.RunPipeline.run]] once as a fresh
  * CLI process would (`cold_run_s`: JVM start until that call returns) and
  * one more untimed warm-up run. Then, untraced (`--trace 0`), it times warm
  * `RunPipeline.run` calls until `--seconds` have passed, at least one.
  * Traced (`--trace 1`), it alternates a plain
  * [[graft.RunPipeline.runForDates]] call (job, stage, leaked-pin and join
  * probes) with a [[StagedPipeline]] run (per-layer spans) and writes every
  * span to `--spans`. The staged run's kNN joins must match the largest
  * join the plain call executed, so the spans time the route the program
  * takes.
  *
  * Every run's artifacts go through [[Check]] and must agree with the cold
  * run's artifacts.
  *
  * Usage: Bench --inputs DIR --out DIR --result FILE --launch-ms MS
  *          --cpus N --seconds S --trace 0|1 --spans FILE
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toLong
    val cpus = opt("cpus")
    val seconds = opt("seconds").toDouble
    val outRoot = new File(opt("out"))
    val result = mutable.LinkedHashMap.empty[String, Any]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var reference: Option[Snapshot] = None

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    result("setup_s") = (System.currentTimeMillis() - launchMs) / 1e3
    val in = Inputs(new File(opt("inputs")))

    /** Checks one run's artifacts and compares them with the first run's. */
    def check(dir: File, what: String): Unit = {
      val o = Check(dir, in.expected)
      o.problems.foreach(p => problems += s"$what: $p")
      reference match {
        case None => reference = Some(o.snapshot)
        case Some(ref) => o.snapshot.differenceFrom(ref).foreach(d =>
          problems += s"$what differs from the cold run: $d")
      }
      deleteTree(dir)
    }
    /** One attempted run: it failed if it threw or a check found a problem. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      val before = problems.size
      val r = try Some(body) catch {
        case e: Exception =>
          problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      if (problems.size > before) failed += 1
      r
    }

    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    attempt("cold run") {
      val out = new File(outRoot, "cold")
      RunPipeline.run(spark, in.cliArgs(out))
      result("cold_run_s") = (System.currentTimeMillis() - launchMs) / 1e3
      release()
      check(out, "cold run")
    }
    attempt("warm-up run") {
      val out = new File(outRoot, "warm-up")
      RunPipeline.run(spark, in.cliArgs(out))
      release()
      check(out, "warm-up run")
    }
    val t0 = System.nanoTime()
    def more(n: Int): Boolean =
      failed == 0 && (n < 1 || (System.nanoTime() - t0) / 1e9 < seconds)

    try {
      if (opt("trace") == "0") {
        val times = mutable.ArrayBuffer.empty[Double]
        while (more(times.size)) {
          val i = times.size
          attempt(s"run $i") {
            val out = new File(outRoot, s"run-$i")
            val r0 = System.nanoTime()
            RunPipeline.run(spark, in.cliArgs(out))
            times += (System.nanoTime() - r0) / 1e9
            release()
            check(out, s"run $i")
          }
        }
        result("run_s") = times.toSeq
        result("noconsent_rows") = in.expected.noconsentRows
      } else {
        val listener = new GroupListener
        sc.addSparkListener(listener)
        val joins = new JoinProbe
        spark.listenerManager.register(joins)
        val staged = new StagedPipeline(spark, listener, in)
        val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
        while (more(iterations.size)) {
          val i = iterations.size
          attempt(s"traced iteration $i") {
            val probeOut = new File(outRoot, s"probe-$i")
            val pinsBefore = sc.getPersistentRDDs.keySet
            BenchBus.drain(sc)
            joins.reset()
            sc.setJobGroup(s"probe-$i", "runForDates", interruptOnCancel = false)
            val p0 = System.nanoTime()
            RunPipeline.runForDates(spark, in.consent, in.noconsent, probeOut.getPath,
              in.strategy, in.dates)
            val runS = (System.nanoTime() - p0) / 1e9
            sc.clearJobGroup()
            // read before the benchmark's own release below
            val leaked = sc.getPersistentRDDs.keySet -- pinsBefore
            val leakedBytes = sc.getRDDStorageInfo.filter(r => leaked.contains(r.id))
              .map(r => r.memSize + r.diskSize).sum
            release()
            val probe = listener.totals(spark, s"probe-$i")
            val probeJoin = joins.largest
            check(probeOut, s"runForDates $i")

            val stagedOut = new File(outRoot, s"staged-$i")
            val first = staged.spans.size
            val facts = staged.run(stagedOut.getPath)
            val spans = staged.spans.drop(first).toSeq
            release()
            val stagedJoin = facts("knn.largest_join").asInstanceOf[Long]
            if (stagedJoin != probeJoin) problems += s"traced iteration $i: the staged kNN " +
              s"route (${facts("knn.route")}) joined $stagedJoin rows at most, runForDates " +
              s"$probeJoin: the staged run no longer follows the program's route"
            val sinkFiles = countFiles(stagedOut)
            check(stagedOut, s"staged run $i")
            iterations += layerMetrics(staged, spans, cpus.toInt) ++ facts ++ Map(
              "io.sink.files" -> sinkFiles,
              "pipeline.run_s" -> runS,
              "pipeline.jobs" -> probe.jobs,
              "pipeline.stages" -> probe.stages,
              "pipeline.leaked_pins" -> leaked.size.toLong,
              "pipeline.leaked_pin_bytes" -> leakedBytes,
              "pipeline.trace_overhead_s" ->
                (spans.filter(_.name == "pipeline").map(_.wallS).sum - runS))
          }
        }
        result("iterations") = iterations.toSeq
        Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new File(opt("spans")),
          staged.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_s" -> s.startS, "end_s" -> s.endS, "attrs" -> s.attrs)).toSeq)
      }
    } finally {
      result("attempted") = attempted
      result("failed") = failed
      result("problems") = problems.toSeq
      result("peak_rss_mb") = peakRssMb()
      result("context") = Map(
        "nproc" -> cpus.toInt,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
        "spark_version" -> spark.version,
        "session_confs" -> spark.conf.getAll.filter { case (k, _) =>
          Set("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
            "spark.ui.enabled", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold")(k) },
        "strategy" -> in.strategyArg)
      Json.mapper.writeValue(new File(opt("result")), result)
      spark.stop()
    }
  }

  /** The per-layer numbers of one staged run: each layer sums its spans. */
  private def layerMetrics(staged: StagedPipeline, spans: Seq[Span], cpus: Int): Map[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    for (layer <- StagedPipeline.Layers) {
      val ss = spans.filter(_.name == layer)
      val ts = ss.map(staged.totals)
      val wall = ss.map(_.wallS).sum
      val task = ts.map(_.taskMs).sum / 1e3
      m(s"$layer.wall_s") = wall
      m(s"$layer.task_s") = task
      m(s"$layer.core_util") = if (wall > 0) task / (wall * cpus) else 0.0
      m(s"$layer.shuffle_bytes") = ts.map(_.shuffleBytes).sum
      m(s"$layer.spill_bytes") = ts.map(_.spillBytes).sum
      m(s"$layer.jobs") = ts.map(_.jobs).sum
    }
    val of = (layer: String) => spans.filter(_.name == layer).map(staged.totals)
    m("io.scan.bytes_read") = of("io.scan").map(_.bytesRead).sum
    m("io.sink.bytes_written") = of("io.sink").map(_.bytesWritten).sum
    m.toMap
  }

  /** VmHWM of this JVM, in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Regular files under `f`, checksum files included. */
  private def countFiles(f: File): Long =
    Option(f.listFiles()).map(_.map(c => if (c.isDirectory) countFiles(c) else 1L).sum)
      .getOrElse(0L)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
