package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: replicate a testdata dir N× with offset ids to measure how the
  * heavy operators scale (the "would this survive 10×?" experiment in
  * DESIGN.md §10). Row keys are remapped as `key * 16 + copy` so replicas
  * never collide; documents get a distinct copy-prefix token (near-dup
  * clones, not exact dups — stresses MinHash banding + cluster
  * consolidation); embeddings stay bit-identical (10-clone cosine groups —
  * stresses the near-dup pair explosion and connected components).
  *
  * Usage: graft.StressGen <srcDir> <outDir> <factor> [tables]
  * `tables` (comma-separated, default all) limits generation when only one
  * modality is under test.
  */
object StressGen {
  def main(args: Array[String]): Unit = {
    val Array(src, out, f) = args.take(3)
    val factor = f.toInt
    val only: Option[Set[String]] = args.lift(3).map(_.split(",").toSet)
    def wanted(n: String): Boolean = only.forall(_.contains(n))
    require(factor >= 1 && factor <= 16, "key remap key*16+i supports factor <= 16")
    // Historical testdata shipped events.ts as TIMESTAMP(NANOS); this conf
    // lets that read as BIGINT (a no-op on the current TIMESTAMP_NTZ micros
    // encoding). Cohorts.events branches on the actual read schema either way.
    val spark = Sessions.pipeline(
      extra = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    def rep(df: DataFrame): DataFrame =
      df.withColumn("__copy", explode(array((0 until factor).map(lit(_)): _*)))

    def offset(c: String): org.apache.spark.sql.Column =
      col(c) * 16 + col("__copy")

    val t = (n: String) => spark.read.parquet(s"$src/$n.parquet")

    // dimensions pass through unchanged
    for (n <- Seq("region", "nation", "customer", "supplier", "part") if wanted(n))
      t(n).write.mode("overwrite").parquet(s"$out/$n.parquet")

    if (wanted("orders")) rep(t("orders"))
      .withColumn("o_orderkey", offset("o_orderkey")).drop("__copy")
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    if (wanted("lineitem")) rep(t("lineitem"))
      .withColumn("l_orderkey", offset("l_orderkey")).drop("__copy")
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    if (wanted("events")) rep(t("events"))
      .withColumn("event_id", offset("event_id"))
      .withColumn("user_id", offset("user_id")).drop("__copy")
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    // copy 0 keeps the original text; copies 1+ get a distinct leading token
    // (a handful of changed shingles → jaccard stays near 1: true near-dups)
    if (wanted("documents")) rep(t("documents"))
      .withColumn("text",
        when(col("__copy") === 0, col("text"))
          .otherwise(concat(lit("cp"), col("__copy"), lit(" "), col("text"))))
      .withColumn("doc_id", offset("doc_id")).drop("__copy")
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    if (wanted("embeddings")) rep(t("embeddings"))
      .withColumn("vec_id", offset("vec_id")).drop("__copy")
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[stressgen] wrote ${factor}x replica of $src to $out")
    spark.stop()
  }
}
