package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Suite-hygiene guards (VERDICT r12 #8): as the gated surface grows past
  * 140 queries and 85+ operators, these assertions keep the registry
  * honest — no gate without an oracle beyond the documented
  * generated-at-verify-time set, and no public operator that nothing
  * (gate, main, or spec) reaches.
  */
class RegistrySpec extends SparkSpec {

  /** Oracles the registry legitimately omits from the STATIC map: their
    * SQL embeds learned literals (k-means centroids, PQ codebooks, pivot
    * columns) and is generated by [[SparkEntry.oracleSql]] only when
    * [[SparkEntry.oracleDataDir]] is set — exactly the set Verify dumps.
    * Growing this list is a deliberate act; a new gate that simply forgot
    * its oracle fails here instead of silently downgrading to the
    * rows-only check. */
  private val GeneratedOracles = Set(
    "q44_sim_ivf_kmeans", "q94_events_pivot", "q130_pq_topk",
    "q132_ivfpq_topk", "q133_ann_ingest", "q134_pq_recall",
    "q135_ivfpq_ranking", "q136_ivfpq_refine", "q139_index_drift")

  test("every gated query has an oracle (static, or documented generated)") {
    val q = SparkEntry.queries.keySet
    val static = SparkEntry.oracleSql.keySet // oracleDataDir unset ⇒ static
    assert((static -- q).isEmpty,
      s"oracles without a query: ${(static -- q).toSeq.sorted}")
    assert((q -- static) == GeneratedOracles,
      s"queries without a static oracle beyond the documented generated " +
        s"set: ${((q -- static) -- GeneratedOracles).toSeq.sorted}; " +
        s"stale generated entries: ${(GeneratedOracles -- (q -- static)).toSeq.sorted}")
    assert(q.forall(_.matches("^q\\d+_[a-z0-9_]+$")),
      s"non-conforming names: ${q.filterNot(_.matches("^q\\d+_[a-z0-9_]+$"))}")
  }

  /** Every Scala source under `src`, comments stripped (ADVICE r13):
    * block comments go first (Scaladoc is where operator names appear
    * most), then line comments; string literals stay — oracle SQL
    * referencing an operator is a real use. */
  private lazy val allSources: Seq[(java.nio.file.Path, String)] = {
    def read(p: java.nio.file.Path): String =
      new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    def stripComments(s: String): String =
      s.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")
    Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
      .map(p => p -> stripComments(read(p)))
  }

  test("only Sessions builds a SparkSession in src/main") {
    // One session factory: a main that hand-writes its own builder lets
    // its conf drift from the one the oracle and the bench plan under.
    val builders = allSources.collect {
      case (p, s) if p.startsWith(Paths.get("src", "main")) &&
        s.contains("SparkSession.builder") => p.getFileName.toString
    }
    assert(builders == Seq("Sessions.scala"),
      s"SparkSession.builder outside Sessions.scala: $builders")
  }

  test("only the CLIs, the driver's mains, DevStages and StressGen declare a main") {
    // A/B work runs through DevStages under the registry conf; a new
    // throwaway main would grow its own probes, knobs and fixtures again.
    val mains = allSources.collect {
      case (p, s) if p.startsWith(Paths.get("src", "main")) &&
        s.contains("def main(") => p.getFileName.toString.stripSuffix(".scala")
    }.sorted
    assert(mains == Seq("Bench", "DevStages", "RunPipeline",
      "RunPipelineStream", "StressGen", "Verify"),
      s"files in src/main declaring a main: $mains")
  }

  test("one range-partitioned running sum in src/main") {
    // The zipWithIndex shape (range-partition, per-partition sums, offsets,
    // streaming pass) and its input-pin rule have one owner,
    // Preprocess.runningSum; a second copy forks both again.
    val uses = allSources.collect {
      case (p, s) if p.startsWith(Paths.get("src", "main")) =>
        p.getFileName.toString -> "repartitionByRange\\(".r.findAllMatchIn(s).size
    }.filter(_._2 > 0)
    assert(uses == Seq("preprocess.scala" -> 1),
      s"repartitionByRange( calls in src/main: $uses")
  }

  test("SparkEntry.entry returns one adjusted row per consent row") {
    // The driver's smoke hook: it checks only rows > 0, so pin the count.
    val consent = Cohorts.cohorts(spark, "/root/testdata/sf0.001")._1.count()
    val rows = SparkEntry.entry(spark).count()
    assert(rows > 0 && rows == consent,
      s"entry rows $rows, consent rows $consent")
  }

  test("every public operator is referenced outside its own defining file") {
    // Reachability = the operator's name appears in SOME repo source other
    // than the file that defines it (a gate, a harness main, another
    // module, or a spec). An operator only its own file mentions is dead
    // surface. Scala reflection (not Java) enumerates the public members,
    // so private[ops]/private[graft] helpers — bytecode-public — don't
    // count as surface.
    // Matches are word-bounded (ADVICE r13): plain substring matching
    // counted any identifier CONTAINING the name as a reference, giving the
    // dead-surface check systematic blind spots for exactly the short names
    // (`tokens`, `exact`) most likely to go stale.
    def corpusExcluding(file: String): String =
      allSources.collect {
        case (p, s) if p.getFileName.toString != file => s
      }.mkString("\n")
    val mirror = scala.reflect.runtime.universe
      .runtimeMirror(getClass.getClassLoader)
    def publicMembers(mod: AnyRef): Seq[String] =
      mirror.classSymbol(mod.getClass).toType.decls.toSeq
        .filter(d => d.isMethod && d.isPublic && !d.isConstructor)
        .map(_.name.toString.trim)
        .filterNot(_.contains("$"))
    val modules: Seq[(String, AnyRef, String)] = Seq(
      ("Dedup", ops.Dedup, "dedup.scala"),
      ("Similarity", ops.Similarity, "similarity.scala"),
      ("TextAnalysis", ops.TextAnalysis, "text.scala"),
      ("TextSql", ops.TextSql, "text.scala"),
      ("QualityModel", ops.QualityModel, "text.scala"),
      ("Sampling", ops.Sampling, "sampling.scala"),
      ("Packing", ops.Packing, "packing.scala"),
      ("Profile", ops.Profile, "profile.scala"),
      ("Curation", ops.Curation, "curation.scala"),
      ("EventOps", ops.EventOps, "streaming.scala"),
      ("Multimodal", ops.Multimodal, "multimodal.scala"),
      ("Io", Io, "io.scala"),
      ("NeighborJoin", NeighborJoin, "knn.scala"),
      ("Summary", Summary, "summary.scala"),
      ("Adjust", Adjust, "adjust.scala"),
      ("CocoaPipeline", CocoaPipeline, "pipeline.scala"))
    val unreachable = for {
      (modName, mod, file) <- modules
      corpus = corpusExcluding(file)
      name <- publicMembers(mod)
      re = java.util.regex.Pattern.compile(
        "\\b" + java.util.regex.Pattern.quote(name) + "\\b")
      if !re.matcher(corpus).find()
    } yield s"$modName.$name"
    assert(unreachable.isEmpty,
      s"public operators reachable from no other source file: " +
        s"${unreachable.distinct.sorted}")
  }
}
