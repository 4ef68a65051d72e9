package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Public API surface + end-to-end runnable pipeline. */
class MatcherSpec extends SparkSpec {
  import spark.implicits._

  private val sp = CohortSpec("gclid", "conversion_value", "features", Nil, Nil)

  private def encoded(rows: (String, Double, String)*) =
    rows.toDF("gclid", "conversion_value", "conversion_item")
      .withColumn("features", Preprocess.tokenFeatures(Seq("conversion_item")))
      .drop("conversion_item")

  test("matcher API reproduces the reference call pattern") {
    val matcher = new NearestCustomerMatcher(encoded(("1", 10.0, "dress")), sp)
    val adjusted = matcher.calculateAdjustedConversions(
      encoded(("10", 20.0, "dress")), MatchStrategy.K(1))
    assert(adjusted.select("adjusted_conversion").as[Double].head() == 20.0)
  }

  test("matcher rejects non-positive conversions at construction (:79-82)") {
    assertThrows[IllegalArgumentException](
      new NearestCustomerMatcher(encoded(("1", 0.0, "dress")), sp))
  }

  test("matcher rejects mismatched feature columns (:266-284)") {
    val matcher = new NearestCustomerMatcher(encoded(("1", 10.0, "dress")), sp)
    val badNc = encoded(("10", 20.0, "dress")).withColumn("extra", lit(1))
    assertThrows[IllegalArgumentException](
      matcher.calculateAdjustedConversions(badNc, MatchStrategy.K(1)))
  }

  test("matcher rejects an id repeated within a cohort, not across cohorts") {
    val byDay = sp.copy(cohortCols = Seq("day"))
    def cohort(rows: (String, Double, String)*) =
      rows.toDF("gclid", "conversion_value", "day")
        .withColumn("features", Preprocess.tokenFeatures(Seq("day")))
    val e = intercept[IllegalArgumentException](
      new NearestCustomerMatcher(cohort(("1", 10.0, "d1"), ("1", 5.0, "d1")), byDay))
    assert(e.getMessage.contains("not unique within the consent cohort (day=d1)"), e)
    // the same id on two days is two rows, one per cohort
    val matcher = new NearestCustomerMatcher(
      cohort(("1", 10.0, "d1"), ("1", 5.0, "d2")), byDay)
    intercept[IllegalArgumentException](matcher.calculateAdjustedConversions(
      cohort(("10", 20.0, "d2"), ("10", 8.0, "d2")), MatchStrategy.K(1)))
    val adjusted = matcher.calculateAdjustedConversions(
      cohort(("10", 20.0, "d1"), ("10", 8.0, "d2")), MatchStrategy.K(1))
      .select("day", "adjusted_conversion").as[(String, Double)].collect().toMap
    assert(adjusted == Map("d1" -> 20.0, "d2" -> 8.0))
  }

  test("matcher percentile radius is one cohort's, never pooled across dates") {
    val byDay = sp.copy(numCols = Seq("x"), cohortCols = Seq("day"))
    def cohort(rows: (String, Double, String, Double)*) =
      rows.toDF("gclid", "conversion_value", "day", "x")
        .withColumn("features", Preprocess.tokenFeatures(Seq("day")))
    // nearest neighbours sit 1 apart on d1 and 100 apart on d2
    val matcher = new NearestCustomerMatcher(
      cohort(("1", 10.0, "d1", 0.0), ("2", 10.0, "d2", 0.0)), byDay)
    val noconsent = cohort(("10", 5.0, "d1", 1.0), ("11", 5.0, "d1", 1.0),
      ("12", 5.0, "d2", 100.0), ("13", 5.0, "d2", 100.0))
    val e = intercept[IllegalArgumentException](
      matcher.minRadiusByPercentile(noconsent, 0.5))
    assert(e.getMessage.contains("Summary.minRadiusByPercentilePerCohort"), e)
    // one date at a time: the radius the pipeline uses for that date
    assert(matcher.minRadiusByPercentile(noconsent.filter(col("day") === "d1"), 0.5) == 1.0)
    assert(matcher.minRadiusByPercentile(noconsent.filter(col("day") === "d2"), 0.5) == 100.0)
  }

  test("CLIs take at most one strategy, metric and path, and every leading arg") {
    for (extra <- Seq(Seq("k=3", "radius=1.0"), Seq("percentile=0.5", "k=2"),
        Seq("metric=l1", "metric=l2"), Seq("k=1", "dates.txt", "more.txt"))) {
      val batch = intercept[IllegalArgumentException](
        RunPipeline.run(spark, Array("consent", "noconsent", "out") ++ extra))
      assert(batch.getMessage.contains("Usage: graft.RunPipeline "), extra)
      val stream = intercept[IllegalArgumentException](
        RunPipelineStream.run(spark, Array("consent", "noconsent", "out", "dates") ++ extra))
      assert(stream.getMessage.contains("Usage: graft.RunPipelineStream "), extra)
    }
    assert(intercept[IllegalArgumentException](
      RunPipeline.run(spark, Array("consent", "noconsent")))
      .getMessage.contains("Usage: graft.RunPipeline "))
  }

  test("RunPipeline keys rows by ALL idCols: repeated gclids stay distinct") {
    val dir = Files.createTempDirectory("graft-dup-gclid").toString
    // gclid '1' appears twice (distinct timestamps) — the reference handles
    // this via its positional index; a head(idCols)-only key would merge the
    // two consent rows in the re-attach join and break |output| == |consent|.
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("1", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress"),
      ("10", "2021-11-20 15:00:00 UTC", 30.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")

    RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", "k=2"))

    val out = spark.read.option("header", "true")
      .csv(s"$dir/out/*/adjustments_data.csv")
    assert(out.count() == 2) // cardinality preserved despite repeated gclid
    // conservation: both nc values split 50/50 over the two equidistant
    // consent rows -> each receives (20+30)/2 = 25.0
    val adds = out.select(col("adjusted_conversion").cast("double"))
      .as[Double].collect().sorted
    assert(adds.toSeq == Seq(25.0, 25.0))
  }

  test("RunPipeline rejects non-unique id columns") {
    val dir = Files.createTempDirectory("graft-dup-id").toString
    val dup = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("1", "2021-11-20 12:00:00 UTC", 15.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    dup.write.parquet(s"$dir/consent")
    dup.write.parquet(s"$dir/noconsent")
    val e = intercept[IllegalArgumentException](
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", "k=1")))
    // the CLI user sees the id columns, not only the composite __row_id
    assert(e.getMessage.contains("gclid") &&
      e.getMessage.contains("conversion_timestamp"), e.getMessage)
  }

  test("RunPipeline end-to-end: parquet cohorts -> per-date CSV adjustments") {
    val dir = Files.createTempDirectory("graft-e2e").toString
    // pipeline_test.py:28-67 fixture shape: one noconsent conversion of 20.0
    // on 2021-11-20, two equidistant consent conversions.
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("2", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")

    RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", "k=2"))

    // EXACT artifact names, reference parity (pipeline.py:265-295):
    // <out>/<date>/adjustments_data.csv + adjustments_summary.csv
    assert(new java.io.File(s"$dir/out/2021-11-20/adjustments_data.csv").isFile)
    assert(new java.io.File(s"$dir/out/2021-11-20/adjustments_summary.csv").isFile)
    val out = spark.read.option("header", "true")
      .csv(s"$dir/out/2021-11-20/adjustments_data.csv")
    assert(out.count() == 2)
    val adds = out.select(col("adjusted_conversion").cast("double"))
      .as[Double].collect().sorted
    assert(adds.toSeq == Seq(10.0, 10.0)) // k=2 equidistant -> 10.0 each
    val summary = spark.read.option("header", "true")
      .csv(s"$dir/out/2021-11-20/adjustments_summary.csv")
    assert(summary.count() == 1)
    assert(summary.select(col("percentage_matched_conversions").cast("double"))
      .as[Double].head() == 100.0)
  }

  test("RunPipeline end-to-end per metric string: every sklearn spelling runs") {
    val dir = Files.createTempDirectory("graft-e2e-metric").toString
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress", 5.0),
      ("2", "2021-11-20 13:00:00 UTC", 30.0, "2021-11-20", "shoe", 9.0))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item", "basket_size")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress", 5.5))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item", "basket_size")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")
    // k=1: the numeric feature (basket_size) makes gclid 1 the nearest
    // neighbor under every metric here — all 20.0 goes to it; what the loop
    // pins is that each metric string parses, routes (banded, cosine-banded,
    // and dense-fallback paths all reachable from the CLI), and conserves.
    for (m <- Seq("manhattan", "cityblock", "l1", "euclidean", "l2",
        "chebyshev", "cosine", "minkowski", "minkowski:3",
        "hamming", "braycurtis", "canberra", "sqeuclidean", "jaccard")) {
      val out = s"$dir/out-${m.replace(':', '_')}"
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent", out,
        "k=1", s"metric=$m"))
      val adj = spark.read.option("header", "true")
        .csv(s"$out/2021-11-20/adjustments_data.csv")
      assert(adj.count() == 2, s"metric=$m")
      val byId = adj.select(col("gclid"),
          col("adjusted_conversion").cast("double"))
        .as[(String, Double)].collect().toMap
      assert(math.abs(byId("1") - 20.0) < 1e-9, s"metric=$m got $byId")
      assert(math.abs(byId("2") - 0.0) < 1e-9, s"metric=$m got $byId")
    }
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent",
        s"$dir/out-bad", "k=1", "metric=mahalanobis"))
    }
    // degenerate / malformed minkowski p values are curated errors, not a
    // silent pow(sum, 0) == 1.0 metric or a raw NumberFormatException
    intercept[IllegalArgumentException] {
      DistanceMetric.parse("minkowski:Infinity")
    }
    intercept[IllegalArgumentException] {
      DistanceMetric.parse("minkowski:abc")
    }
    intercept[IllegalArgumentException] { DistanceMetric.parse("minkowski:0.5") }
    // a key=value typo in the trailing args is rejected, not silently taken
    // as the dates-file path (batch) / checkpoint dir (stream)
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent",
        s"$dir/out-typo", "k=1", "metrc=cosine"))
    }
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Array(s"$dir/consent", s"$dir/noconsent",
        s"$dir/out-typo", "k=1", "Metric=l2"))
    }
  }

  test("RunPipelineStream drains dates files with AvailableNow, equal to batch") {
    val dir = Files.createTempDirectory("graft-stream-e2e").toString
    val mk = (gclid: String, ts: String, v: Double, d: String) =>
      (gclid, ts, v, d, "dress")
    val consent = Seq(
      mk("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20"),
      mk("2", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20"),
      mk("3", "2021-11-21 12:00:00 UTC", 5.0, "2021-11-21"),
      mk("4", "2021-11-21 13:00:00 UTC", 5.0, "2021-11-21"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      mk("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20"),
      mk("11", "2021-11-21 14:00:00 UTC", 8.0, "2021-11-21"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")
    // two dates files pending before the stream starts — AvailableNow
    // must drain both, writing both date partitions into one output dir
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/dates"))
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f1.txt"),
      "2021-11-20\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f2.txt"),
      "2021-11-21\n".getBytes)

    RunPipelineStream.run(spark,
      Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", s"$dir/dates", "k=2"))

    assert(new java.io.File(s"$dir/out/2021-11-20/adjustments_data.csv").isFile)
    assert(new java.io.File(s"$dir/out/2021-11-21/adjustments_data.csv").isFile)
    val out = spark.read.option("header", "true")
      .csv(s"$dir/out/*/adjustments_data.csv")
    assert(out.count() == 4)
    val perDate = out.groupBy("conversion_date")
      .agg(sum(col("adjusted_conversion").cast("double")).as("s"))
      .as[(String, Double)].collect().toMap
    assert(perDate("2021-11-20") == 20.0 && perDate("2021-11-21") == 8.0)

    // restart with the same checkpoint: both files already committed — the
    // drained stream must re-process nothing (exactly-once dates handling)
    RunPipelineStream.run(spark,
      Array(s"$dir/consent", s"$dir/noconsent", s"$dir/out", s"$dir/dates", "k=2"))
    assert(spark.read.option("header", "true")
      .csv(s"$dir/out/*/adjustments_data.csv").count() == 4)
  }

  /** Launch a CLI main in its OWN JVM — the real deployment entry, not the
    * session-injected library path: fresh SparkSession from main's builder,
    * arg parsing, exit code. Classpath and JDK17 add-opens mirror the test
    * JVM's. */
  private def runCliMain(mainClass: String, args: Seq[String]): Int = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // drain the child's output so a full pipe can't deadlock it
    val sb = new StringBuilder
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = rd.readLine()
    while (line != null) { sb.append(line).append('\n'); line = rd.readLine() }
    val code = proc.waitFor()
    if (code != 0) System.err.println(s"[$mainClass] exit $code:\n${sb.takeRight(4000)}")
    code
  }

  test("RunPipelineStream CLI main() e2e: drain, byte-equal to batch CLI, restart no-op") {
    val dir = Files.createTempDirectory("graft-cli-e2e").toString
    val consent = Seq(
      ("1", "2021-11-20 12:00:00 UTC", 10.0, "2021-11-20", "dress"),
      ("2", "2021-11-20 13:00:00 UTC", 10.0, "2021-11-20", "shoe"),
      ("3", "2021-11-21 12:00:00 UTC", 5.0, "2021-11-21", "dress"),
      ("4", "2021-11-21 13:00:00 UTC", 5.0, "2021-11-21", "shoe"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    val noconsent = Seq(
      ("10", "2021-11-20 14:00:00 UTC", 20.0, "2021-11-20", "dress"),
      ("11", "2021-11-21 14:00:00 UTC", 8.0, "2021-11-21", "dress"))
      .toDF("gclid", "conversion_timestamp", "conversion_value",
        "conversion_date", "conversion_item")
      .withColumn("conversion_date", to_date(col("conversion_date")))
    consent.write.parquet(s"$dir/consent")
    noconsent.write.parquet(s"$dir/noconsent")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/dates"))
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f1.txt"),
      "2021-11-20\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/dates/f2.txt"),
      "2021-11-21\n".getBytes)

    // batch CLI main in its own JVM = the reference artifacts
    assert(runCliMain("graft.RunPipeline",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outBatch", "k=2",
        s"$dir/dates/f1.txt")) == 0)
    assert(runCliMain("graft.RunPipeline",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outBatch", "k=2",
        s"$dir/dates/f2.txt")) == 0)
    // streaming CLI main: AvailableNow drains both pending dates files
    assert(runCliMain("graft.RunPipelineStream",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outStream",
        s"$dir/dates", "k=2")) == 0)

    val artifacts = Seq("2021-11-20/adjustments_data.csv",
      "2021-11-21/adjustments_data.csv", "2021-11-20/adjustments_summary.csv",
      "2021-11-21/adjustments_summary.csv")
    def bytes(p: String) = Files.readAllBytes(java.nio.file.Paths.get(p))
    artifacts.foreach { a =>
      assert(new java.io.File(s"$dir/outStream/$a").isFile, a)
      assert(java.util.Arrays.equals(bytes(s"$dir/outStream/$a"),
        bytes(s"$dir/outBatch/$a")), s"stream artifact differs from batch: $a")
    }

    // checkpoint restart across JVMs: both dates committed — nothing may
    // be re-processed (artifact mtimes untouched) and content is stable
    val before = artifacts.map(a =>
      a -> new java.io.File(s"$dir/outStream/$a").lastModified).toMap
    assert(runCliMain("graft.RunPipelineStream",
      Seq(s"$dir/consent", s"$dir/noconsent", s"$dir/outStream",
        s"$dir/dates", "k=2")) == 0)
    artifacts.foreach { a =>
      assert(new java.io.File(s"$dir/outStream/$a").lastModified == before(a),
        s"restart re-processed $a")
    }
  }

  /** Two dates of consent and noconsent parquet with numeric features
    * `numCols` and one categorical; returns the two cohort paths. */
  private def twoDateCohorts(dir: String, numCols: Seq[String]): (String, String) = {
    def cohort(prefix: String, n: Int) = (0 until 2 * n).map { i =>
      val d = if (i % 2 == 0) "2021-11-20" else "2021-11-21"
      (s"$prefix$i", s"$d 12:00:${"%02d".format(i)} UTC", 5.0 + i % 7, d,
        Seq("dress", "shoe", "hat")(i % 3), (i * 37 % 11).toDouble, (i * 13 % 5).toDouble)
    }.toDF("gclid", "conversion_timestamp", "conversion_value", "conversion_date",
        "conversion_item", "a", "b")
      .withColumn("conversion_date", to_date(col("conversion_date")))
      .drop(Seq("a", "b").filterNot(numCols.contains): _*)
    cohort("C-", 12).write.parquet(s"$dir/consent")
    cohort("N-", 6).write.parquet(s"$dir/noconsent")
    (s"$dir/consent", s"$dir/noconsent")
  }

  test("runForDates reads the cohort parquet only to prepare the cohorts") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = Files.createTempDirectory("graft-scan-once").toString
    val (consentPath, noconsentPath) = twoDateCohorts(dir, Seq("a"))
    // root paths of every file scan in a plan, cached relations included
    object Scans extends AdaptiveSparkPlanHelper {
      def roots(plan: SparkPlan): Seq[String] = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
        case m: InMemoryTableScanExec => roots(m.relation.cachedPlan)
      }.flatten
    }
    // K: one kNN pass; Percentile: the k=1 pass, then the radius pass
    for (strategy <- Seq(MatchStrategy.K(2), MatchStrategy.Percentile(0.5))) {
      val (_, plans) = org.apache.spark.ActionPlans.during(spark) {
        RunPipeline.runForDates(spark, consentPath, noconsentPath, s"$dir/out-$strategy",
          strategy, Seq("2021-11-20", "2021-11-21"))
      }
      val readers = plans.collect { case (name, plan)
        if Scans.roots(plan).exists(r => r.endsWith("/consent") || r.endsWith("/noconsent")) =>
        name
      }
      // the checks, the kNN passes, both writes and the summary collect
      // start from the two prepared-cohort checkpoints
      assert(readers == Seq("localCheckpoint", "localCheckpoint"),
        s"$strategy: actions reading the cohort parquet: $readers of ${plans.map(_._1)}")
      assert(plans.size >= 6, s"$strategy: ${plans.map(_._1)}")
    }
  }

  test("runForDates frees every relation it pins, written or failed") {
    val dir = Files.createTempDirectory("graft-pins").toString
    // two numeric features: the K route joins the dense pairs relation
    val (consentPath, noconsentPath) = twoDateCohorts(dir, Seq("a", "b"))
    val sc = spark.sparkContext
    def pinsLeft(outDir: String): collection.Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      RunPipeline.runForDates(spark, consentPath, noconsentPath, outDir,
        MatchStrategy.K(2), Seq("2021-11-20", "2021-11-21"))
      sc.getPersistentRDDs.keySet -- before
    }
    assert(pinsLeft(s"$dir/out").isEmpty)
    assert(new java.io.File(s"$dir/out/2021-11-21/adjustments_summary.csv").isFile)
    // an output dir that is a regular file: the first write throws after
    // the cohorts and the selected pairs were materialized
    val blocked = new java.io.File(s"$dir/blocked")
    assert(blocked.createNewFile())
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](pinsLeft(blocked.getPath))
    assert(e.getStackTrace.exists(_.getMethodName == "writeCsvExact"), e)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
