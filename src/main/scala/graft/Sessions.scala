package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main and the test suite's
  * shared session come from here, so the session conf is one decision.
  *
  * Every session is local: `local[cores]` with one shuffle partition per
  * core, UTC session time, no UI, WARN logging. On top of that there are
  * exactly two named confs:
  *
  *  - [[pipeline]]: the paper's per-date job (`RunPipeline`,
  *    `RunPipelineStream`) and the test suite. Nothing else is set, so
  *    Spark's planner defaults apply. `perfbench/src/perfbench/Bench.scala`
  *    builds its own copy of this conf; change both together.
  *  - [[registry]]: the pipeline conf plus the planner confs of the query
  *    registry's harnesses. `Verify`, `Bench` and the dev mains all use it,
  *    so the plans the oracle checks are the plans the bench times.
  */
object Sessions {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the host. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val PlannerConfs = Map(
    // AQE stays on for skew handling, but partition COALESCING is off: it
    // sizes post-shuffle stages by map-output BYTES, and the pairs
    // relations here are tiny compressed yet CPU-expansive (distance
    // kernel + per-group sort per row) — observed collapsing the window
    // stages to 3 tasks on 32 cores. shuffle.partitions is already sized
    // to the machine.
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    // Typed-Aggregator plans (TopKAggregator) must stay in the object
    // hash map — the 128-key default silently falls back to sort-based
    // aggregation, reintroducing exactly the sorter this plan avoids.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    // Spark's default is 10 MB. `Bridge.materializedAuto` reads this
    // threshold for its own broadcast hints.
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB")

  /** The pipeline conf, plus `extra` confs on top. */
  def pipeline(cores: Int = cpus,
               extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registry conf: the pipeline conf plus the planner confs. */
  def registry(): SparkSession = pipeline(extra = PlannerConfs)
}
