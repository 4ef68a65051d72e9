package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The production entry point — the Spark twin of the reference's Dataflow
  * run (pipeline.py:318-360) and Cloud Function trigger
  * (cloud_function/main.py:49-83):
  *
  *   1. read the dates file (or compute a lookback window from the data's
  *      max date when no file is given — main.py:103-121),
  *   2. scan both cohort tables for those dates,
  *   3. run the adjustment under one strategy with per-date cohort scope,
  *   4. write per-date CSVs: adjustments data + summary (pipeline.py:265-295).
  *
  * All dates are processed together by one set of Spark actions, scoped by
  * the date column — not the reference's one-date-per-worker loop.
  * Arguments: see `Usage` and [[Trailing]].
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.pipeline()
    try run(spark, args) finally spark.stop()
  }

  /** Strategy CLI syntax shared with [[RunPipelineStream]]. */
  def parseStrategy(s: String): MatchStrategy = s match {
    case s if s.startsWith("k=") => MatchStrategy.K(s.drop(2).toDouble)
    case s if s.startsWith("radius=") => MatchStrategy.Radius(s.drop(7).toDouble)
    case s if s.startsWith("percentile=") => MatchStrategy.Percentile(s.drop(11).toDouble)
    case s => throw new IllegalArgumentException(s"unknown strategy: $s")
  }

  /** The trailing arguments of both CLIs, taken in any order: at most one
    * strategy (`k=|radius=|percentile=`, default k=3), at most one
    * `metric=<sklearn name>` (default manhattan; the reference's config
    * surface forwards metric strings verbatim, pipeline.py:121-140) and at
    * most one bare path (the batch CLI's dates file, the streaming CLI's
    * checkpoint dir). */
  private[graft] final case class Trailing(strategy: MatchStrategy,
                                           metric: DistanceMetric, path: Option[String])

  /** Splits `args` into its `positional` leading arguments and the
    * [[Trailing]] ones. A missing leading argument, a repeated kind of
    * trailing argument, or a `key=` no CLI knows (a typo like `metrc=cosine`
    * or `Metric=l2` would otherwise be taken as the path) fails with
    * `usage`. */
  private[graft] def parseArgs(args: Array[String], positional: Int,
                               usage: String): (Array[String], Trailing) = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(s"$why\n$usage")
    if (args.length < positional) fail(s"expected $positional leading arguments")
    val byKind = args.drop(positional).toSeq.groupBy(a => a.split("=", 2) match {
      case Array(_) | Array("", _) => "path"
      case Array("k" | "radius" | "percentile", _) => "strategy"
      case Array("metric", _) => "metric"
      case _ => fail(s"unrecognized option '$a' — supported keys: " +
        "k=|radius=|percentile=|metric= (keys are lowercase)")
    })
    byKind.find(_._2.size > 1).foreach { case (kind, as) =>
      fail(s"more than one $kind: ${as.mkString(" ")}")
    }
    def one(kind: String): Option[String] = byKind.get(kind).map(_.head)
    (args.take(positional), Trailing(parseStrategy(one("strategy").getOrElse("k=3")),
      one("metric").fold[DistanceMetric](Manhattan)(m =>
        DistanceMetric.parse(m.stripPrefix("metric="))),
      one("path")))
  }

  private val Usage = "Usage: graft.RunPipeline <consentParquet> <noconsentParquet> " +
    "<outDir> [k=3 | radius=R | percentile=P] [metric=<sklearn name>] [datesFile]"

  /** The CLI's fixed column roles — ONE definition shared by the date-scope
    * computation and the adjustment job. */
  private val cliConfig = JobConfig(
    idCols = Seq("gclid", "conversion_timestamp"),
    conversionCol = "conversion_value",
    dateCol = "conversion_date",
    cohortCols = Seq("conversion_date"))

  /** Session-agnostic body (tests drive this with their own session). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val (Array(consentPath, noconsentPath, outDir), trailing) = parseArgs(args, 3, Usage)
    val noconsentRaw = spark.read.parquet(noconsentPath)

    // Date scope: explicit dates file, else a 1-day lookback from the
    // noconsent table's max date (cloud_function/main.py:34,103-121).
    val dates: Seq[String] = trailing.path match {
      case Some(f) => Io.readDatesFile(spark, f).collect().map(_.toString).toSeq
      case None =>
        val maxD = noconsentRaw
          .agg(date_format(max(col(cliConfig.dateCol)), "yyyy-MM-dd")).first().getString(0)
        Seq(maxD)
    }
    runForDates(spark, consentPath, noconsentPath, outDir, trailing.strategy, dates,
      trailing.metric)
  }

  /** One adjustment job over an explicit date scope — shared by the batch
    * CLI above and the streaming driver ([[RunPipelineStream]]). */
  def runForDates(spark: SparkSession, consentPath: String, noconsentPath: String,
                  outDir: String, strategy: MatchStrategy, dates: Seq[String],
                  metric: DistanceMetric = Manhattan): Unit = {
    val cfg = cliConfig.copy(metric = metric)

    val consentRaw = spark.read.parquet(consentPath)
    val noconsentRaw = spark.read.parquet(noconsentPath)

    val inDates = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(date_format(col(cfg.dateCol), "yyyy-MM-dd").isin(dates: _*))

    // Shared feature space over every non-role column (dynamic schema:
    // categoricals = the string columns outside id/date/conversion roles).
    val roleCols = cfg.idCols ++ Seq(cfg.conversionCol, cfg.dateCol)
    val featureFields = consentRaw.schema.fields.filterNot(f => roleCols.contains(f.name))
    val catCols = featureFields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name).toSeq
    val numCols = featureFields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq
    val (nc0, c0) = CocoaPipeline.prepare(
      inDates(noconsentRaw), inDates(consentRaw), cfg, catCols)

    // Row identity must cover ALL idCols: the reference keys rows by
    // positional index precisely because id_columns = [gclid, timestamp] are
    // only unique together (gclid repeats). So build one composite id; the
    // matcher checks it is unique per date, like the reference's positional
    // index guarantees, and its message shows the repeating id.
    // JSON-struct encoding, not concat_ws: concat_ws silently DROPS null
    // arguments, so distinct tuples like (a, NULL) and (NULL, a) would
    // collide (and a separator char inside a value would shift the split),
    // producing a false "not unique" abort. to_json escapes values and
    // keys fields by name, so distinct tuples stay distinct.
    val rowIdCol = "__row_id"
    val addId = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn(rowIdCol, to_json(struct(cfg.idCols.map(col(_)): _*)))

    val spec = CohortSpec(
      idCol = rowIdCol, valueCol = cfg.conversionCol,
      numCols = numCols, cohortCols = Seq(cfg.dateCol), metric = cfg.metric)
    // Every relation this run materializes — the prepared cohorts here,
    // what CocoaPipeline.run adds — is freed when the run ends, written or
    // failed.
    val pins = new Pins
    try {
      // Prepare once: the checks, both kNN passes, both writes and the
      // summary read these two checkpoints, never the parquet files.
      val (nc, c) = (pins(addId(nc0)), pins(addId(c0)))
      val result = new NearestCustomerMatcher(c, spec)
        .adjustmentsAndSummary(nc, strategy)
      pins.adopt(result.pins)

      // Reference artifact layout: <out>/<date>/adjustments_data.csv +
      // adjustments_summary.csv (pipeline.py:265-295) — exact names, one
      // plain CSV per date.
      Io.writeCsvExact(result.adjusted.drop(spec.tokenCol, rowIdCol),
        cfg.dateCol, outDir, "adjustments_data.csv")
      // One row per date: collected once, it feeds both the CSV write and
      // the zero-match warning below.
      val summaryRows = result.summary.collect()
      Io.writeCsvExact(spark.createDataFrame(
          java.util.Arrays.asList(summaryRows: _*), result.summary.schema),
        cfg.dateCol, outDir, "adjustments_summary.csv")
      // reference parity: warn when a cohort matched nothing (radius too
      // tight — nearest_consented_customers.py:176-182 logs the same).
      summaryRows
        .filter(_.getAs[Long]("number_matched_conversions") == 0L)
        .foreach(r => System.err.println(
          s"[pipeline] WARNING: no matching customers for ${r.getAs[Any](cfg.dateCol)} — " +
            "no conversion values redistributed (radius too small?)"))
    } finally pins.release()
    println(s"[pipeline] wrote ${dates.size} date(s) to $outDir")
  }
}
