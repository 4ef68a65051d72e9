package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming twin of [[RunPipeline]] — the Spark-native version of the
  * reference's trigger chain (Pub/Sub → Cloud Function → Dataflow launch,
  * README.md:145-189): a file-source STREAM of dates files drives the
  * adjustment. Each arriving file under `datesDir` carries newline-separated
  * ISO dates; every micro-batch runs the same dates-scoped job the batch CLI
  * runs ([[RunPipeline.runForDates]]) and writes the per-date CSVs.
  *
  *  - `Trigger.AvailableNow` drains everything pending, then stops — the
  *    scheduled-batch shape (re-launch nightly; nothing runs between).
  *    Swap for a processing-time trigger and the same code is a resident
  *    ingest service.
  *  - The checkpoint makes dates-file processing exactly-once across
  *    restarts: a re-launched job skips files already committed — the
  *    idempotence the reference delegates to Cloud Function retries.
  *
  * Arguments: see `Usage` and [[RunPipeline.Trailing]].
  */
object RunPipelineStream {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.pipeline()
    try run(spark, args) finally spark.stop()
  }

  private val Usage = "Usage: graft.RunPipelineStream <consentParquet> " +
    "<noconsentParquet> <outDir> <datesDir> [k=3 | radius=R | percentile=P] " +
    "[metric=<sklearn name>] [checkpointDir]"

  /** Session-agnostic body (tests drive this with their own session). The
    * bare trailing path is the checkpoint dir. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val (Array(consentPath, noconsentPath, outDir, datesDir),
      RunPipeline.Trailing(strategy, metric, path)) = RunPipeline.parseArgs(args, 4, Usage)
    val checkpoint = path.getOrElse(s"$outDir/__checkpoint")

    // successive batches append NEW date partitions into one output dir;
    // static overwrite would drop every partition a batch didn't write —
    // dynamic mode replaces only the dates in the current batch (and makes
    // per-date re-runs idempotent). Session-global, so save/restore around
    // the stream: a later BATCH driver on the same session must get its
    // static semantics back.
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prevOverwrite = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")

    // the try covers STREAM CONSTRUCTION too, not just awaitTermination():
    // a throw from readStream/writeStream/start() must also restore the
    // session-global overwrite mode, or a later batch driver on the same
    // session silently inherits dynamic semantics.
    try {
      val q = spark.readStream
        // one dates file per micro-batch — the reference's trigger grain
        // (one Pub/Sub message = one dates.txt); AvailableNow still drains
        // every pending file before stopping
        .option("maxFilesPerTrigger", "1")
        .textFile(datesDir)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], batchId: Long) =>
          // parse + dedupe inside the batch; to_date throws on malformed
          // lines like the batch CLI's reader (ANSI mode)
          val dates = batch
            .filter(length(trim(col("value"))) > 0)
            .select(to_date(trim(col("value")), "yyyy-MM-dd").cast("string").as("d"))
            .distinct().collect().map(_.getString(0)).toSeq.sorted
          if (dates.nonEmpty) {
            System.err.println(
              s"[pipeline-stream] batch $batchId: ${dates.size} date(s)")
            RunPipeline.runForDates(
              spark, consentPath, noconsentPath, outDir, strategy, dates, metric)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally prevOverwrite match {
      case Some(v) => spark.conf.set(overwriteKey, v)
      case None => spark.conf.unset(overwriteKey)
    }
  }
}
