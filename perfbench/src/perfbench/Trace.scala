package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import graft._

/** Task-side totals of one job group. */
final class Totals {
  var jobs = 0L; var stages = 0L; var taskMs = 0L; var shuffleBytes = 0L
  var spillBytes = 0L; var bytesRead = 0L; var bytesWritten = 0L
}

/** Attributes every job, stage and task to the job group it ran under. Jobs
  * that the adaptive executor submits from its own threads carry the SQL
  * execution id of the query that spawned them, so the group is also
  * looked up through that id. */
final class GroupListener extends SparkListener {
  private val totals = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  private def of(g: String): Totals = totals.computeIfAbsent(g, _ => new Totals)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orElse(exec.flatMap(e => Option(execGroup.get(e))))
      .foreach { g =>
        exec.foreach(execGroup.putIfAbsent(_, g))
        of(g).synchronized(of(g).jobs += 1)
        j.stageIds.foreach(stageGroup.put(_, g))
      }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(s.stageInfo.stageId)).foreach(g => of(g).synchronized(of(g).stages += 1))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(t.stageId)); m <- Option(t.taskMetrics)) {
      val a = of(g)
      a.synchronized {
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }

  /** Totals of a group once every event posted so far has been handled. */
  def totals(spark: SparkSession, group: String): Totals = {
    BenchBus.drain(spark.sparkContext)
    Option(totals.get(group)).getOrElse(new Totals)
  }
}

/** One traced call: a named span with its parent, its wall interval and the
  * task totals of the job group it ran under. */
final case class Span(id: Int, parent: Int, name: String, startS: Double, endS: Double,
                      attrs: Map[String, Any]) {
  def wallS: Double = endS - startS
}

/** Join output rows of executed plans, read from Spark's SQL metrics. */
object PlanRows extends AdaptiveSparkPlanHelper {
  /** Output rows of the largest join in `plan`, looking through cached
    * relations: in every kNN route that is the join that pairs each
    * noconsent row with its candidate neighbours. */
  def largestJoin(plan: SparkPlan): Long =
    (0L +: collectWithSubqueries(plan) {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: InMemoryTableScanExec => largestJoin(s.relation.cachedPlan)
    }).max
}

/** The largest join output of the queries that succeeded since the last
  * [[reset]]: read after a plain `runForDates` call, it is the kNN join the
  * program itself executed. Callbacks arrive on the listener bus, so drain
  * it before `reset` and before reading. */
final class JoinProbe extends QueryExecutionListener {
  @volatile private var max = 0L
  def reset(): Unit = max = 0L
  def largest: Long = max
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    max = math.max(max, PlanRows.largestJoin(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object StagedPipeline {
  val Layers: Seq[String] = Seq("io.scan", "preprocess", "matcher", "knn", "summary.radius",
    "adjust.softmax", "adjust.distribute", "summary", "io.sink")
}

/** The pipeline of [[graft.RunPipeline.runForDates]] split into its public
  * calls, one span per layer. Each layer's output is materialized before the
  * next call, so the job group of a span holds that layer's work only. */
final class StagedPipeline(spark: SparkSession, listener: GroupListener, in: Inputs) {
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  private val cfg = JobConfig(
    idCols = Seq("gclid", "conversion_timestamp"), conversionCol = "conversion_value",
    dateCol = "conversion_date", cohortCols = Seq("conversion_date"))
  private val rowIdCol = "__row_id"

  private def now: Double = (System.nanoTime() - origin) / 1e9

  /** Runs `body` under its own job group and records the span. */
  def span[T](name: String, parent: Int, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    nextId += 1
    val id = nextId
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = now
    try body finally {
      sc.clearJobGroup()
      spans += Span(id, parent, name, t0, now, attrs)
    }
  }

  def totals(s: Span): Totals = listener.totals(spark, s"span-${s.id}")

  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Counts outside any span, so they add to no layer. */
  private def rows(df: DataFrame): Long = {
    sc.setJobGroup("bench-aux", "bench bookkeeping", interruptOnCancel = false)
    try df.count() finally sc.clearJobGroup()
  }

  /** One staged run writing to `outDir`; returns layer facts that are not
    * task totals (row counts, route, candidate pairs, the largest kNN join). */
  def run(outDir: String): Map[String, Any] = {
    val root = { nextId += 1; nextId }
    val rootStart = now
    val facts = mutable.LinkedHashMap.empty[String, Any]
    val inDates = (df: DataFrame) =>
      df.filter(date_format(col(cfg.dateCol), "yyyy-MM-dd").isin(in.dates: _*))

    val (ncRaw, cRaw) = span("io.scan", root) {
      (materialize(inDates(spark.read.parquet(in.noconsent))),
        materialize(inDates(spark.read.parquet(in.consent))))
    }
    val roleCols = cfg.idCols ++ Seq(cfg.conversionCol, cfg.dateCol)
    val features = cRaw.schema.fields.filterNot(f => roleCols.contains(f.name))
    val catCols = features.filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    val numCols = features
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).map(_.name).toSeq

    val (nc, c) = span("preprocess", root) {
      val (nc0, c0) = CocoaPipeline.prepare(ncRaw, cRaw, cfg, catCols)
      val addId = (df: DataFrame) =>
        df.withColumn(rowIdCol, to_json(struct(cfg.idCols.map(col(_)): _*)))
      val (nc1, c1) = (addId(nc0), addId(c0))
      for ((df, name) <- Seq(c1 -> "consent", nc1 -> "noconsent")) {
        val keys = (cfg.cohortCols :+ rowIdCol).map(col(_))
        require(df.groupBy(keys: _*).count().filter(col("count") > 1).limit(1).count() == 0,
          s"ids not unique within the $name cohort")
      }
      (materialize(nc1), materialize(c1))
    }
    val (ncRows, cRows) = (rows(nc), rows(c))
    facts("preprocess.rows_dropped") = rows(ncRaw) + rows(cRaw) - ncRows - cRows

    val spec = CohortSpec(idCol = rowIdCol, valueCol = cfg.conversionCol,
      numCols = numCols, cohortCols = Seq(cfg.dateCol), metric = cfg.metric)
    span("matcher", root) {
      new NearestCustomerMatcher(c, spec).adjustmentsAndSummary(nc, in.strategy)
    }

    // The route CocoaPipeline.run takes for this strategy and feature shape;
    // NearestCustomerMatcher broadcasts the consent side by default. Bench
    // checks the largest join here against the plain runForDates call.
    def knn(route: String)(join: => DataFrame): DataFrame = {
      val (planned, df) = span("knn", root, Map("route" -> route)) {
        val j = join
        (j, materialize(j))
      }
      val joined = PlanRows.largestJoin(planned.queryExecution.executedPlan)
      facts("knn.candidate_pairs") = facts.getOrElse("knn.candidate_pairs", 0L)
        .asInstanceOf[Long] + joined
      facts("knn.largest_join") = math.max(facts.getOrElse("knn.largest_join", 0L)
        .asInstanceOf[Long], joined)
      facts("knn.route") = (facts.get("knn.route").toSeq :+ route).mkString(" + ")
      df
    }
    val oneNumeric = spec.numCols.size == 1
    val sel = in.strategy match {
      case MatchStrategy.K(k) if k >= 1 && oneNumeric =>
        knn("topKBanded")(NeighborJoin.topKBanded(c, nc, spec, k.toInt, broadcastConsent = true))
      case MatchStrategy.K(k) =>
        knn("topK(pairs)")(NeighborJoin.topK(
          NeighborJoin.pairs(c, nc, spec, broadcastConsent = true), spec, k, Some(c)))
      case MatchStrategy.Radius(r) =>
        knn("withinRadiusBucketed")(NeighborJoin.withinRadiusBucketed(c, nc, spec, r))
      case MatchStrategy.Percentile(p) =>
        val pass1 =
          if (oneNumeric) knn("topKBanded(k=1)")(
            NeighborJoin.topKBanded(c, nc, spec, 1, broadcastConsent = true))
          else knn("topK(pairs,k=1)")(NeighborJoin.topK(
            NeighborJoin.pairs(c, nc, spec, broadcastConsent = true), spec, 1.0))
        val radii = span("summary.radius", root) {
          materialize(Summary.minRadiusByPercentilePerCohort(
            materialize(Summary.nearestDistances(pass1, spec)), p, spec))
        }
        knn("withinRadiusBucketedPerCohort")(NeighborJoin.withinRadiusBucketedPerCohort(
          c, nc, radii, spec, broadcastConsent = true))
    }
    val selected = rows(sel)
    facts("knn.selected_pairs") = selected
    facts("knn.useful_ratio") =
      selected.toDouble / math.max(1L, facts("knn.candidate_pairs").asInstanceOf[Long])

    val shares = span("adjust.softmax", root)(materialize(Adjust.softmaxShares(sel, spec)))
    val adjusted = span("adjust.distribute", root)(materialize(Adjust.distribute(c, shares, spec)))
    val summary = span("summary", root) {
      materialize(Summary.matchedSummary(nc, Summary.nearestDistances(sel, spec), spec))
    }
    span("io.sink", root) {
      Io.writeCsvExact(adjusted.drop(spec.tokenCol, rowIdCol), cfg.dateCol, outDir,
        "adjustments_data.csv")
      Io.writeCsvExact(summary, cfg.dateCol, outDir, "adjustments_summary.csv")
      summary.select(col("number_matched_conversions")).collect()
    }
    spans += Span(root, 0, "pipeline", rootStart, now, Map.empty)
    facts.toMap
  }
}
