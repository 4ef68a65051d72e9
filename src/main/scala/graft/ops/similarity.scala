package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  *  - [[cosineTopK]] — brute-force exact top-k: broadcast the query set,
  *    codegen'd zip_with/aggregate dot product, per-query window rank.
  *    The baseline and the oracle-checkable path.
  *  - [[partitionedTopK]] — IVF-style: candidates restricted to the same
  *    coarse partition (here the `label` column as the cell assignment),
  *    i.e. the cell-pruned search that makes 100 TB ANN tractable — the
  *    candidate join is an equi-join on the cell key instead of a cross
  *    join, so it shuffles |Q|+|C| not |Q|×|C|.
  *
  * Ordering is by similarity rounded to 9 dp with vec_id tie-break —
  * deterministic across engines despite last-ulp float differences.
  */
object Similarity {

  /** Constants shared between the ANN registry queries and their GENERATED
    * oracles (q130/q132 embed learned-quantizer literals, so the oracle
    * builders replay the query's predicate/probe/k arithmetic in SQL): one
    * definition means a retuned probe count or query subset can't silently
    * desynchronize the two sides into a spurious hash mismatch (ADVICE r9).
    *  - [[AnnQueryMod]]: the query subset is `vec_id % AnnQueryMod == 0`.
    *  - [[AnnK]]: top-k depth of the gated rankings.
    *  - [[AnnNProbe]]: IVF probe count ([[ivfTopK]]/[[ivfPqTopK]] default).
    *  - [[AnnIngestMod]]: the q133 incremental-ingest split — quantizers
    *    fit on `vec_id % AnnIngestMod != 0`, the rest arrives as the drop.
    *  - [[AnnRefine]]: q136's refine factor — ADC retrieves
    *    AnnRefine·AnnK candidates before the exact re-rank.
    */
  val AnnQueryMod = 50
  val AnnK = 10
  val AnnNProbe = 4
  val AnnIngestMod = 3
  val AnnRefine = 4

  /** Sequential dot product via the codegen'd kernel
    * ([[graft.expr.DotProduct]]) — same left-to-right accumulation as the
    * interpreted `aggregate(zip_with(..))` it replaces, so oracle results
    * are bit-identical. Inputs are cast to array<double> first (a single
    * codegen'd Cast). */
  def dot(a: Column, b: Column): Column =
    dotD(a.cast("array<double>"), b.cast("array<double>"))

  /** Dot product over columns that are ALREADY array<double> — no casts.
    * Hot-path variant: in an all-pairs join a cast inside the sim expression
    * converts (and allocates) both arrays once per candidate PAIR; [[prep]]
    * pays it once per row instead. */
  private def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.DotProduct(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** One side of a similarity join: (id, emb: array<double>, norm) with the
    * float→double cast and the norm evaluated per row, below the join. */
  private def prep(df: DataFrame, p: String): DataFrame =
    df.select(col("vec_id").as(s"${p}id"),
        col("embedding").cast("array<double>").as(s"${p}emb"))
      .withColumn(s"${p}norm", sqrt(dotD(col(s"${p}emb"), col(s"${p}emb"))))

  private def ranked(joined: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(graft.Num.rnd(col("sim"), 9).desc, col("c_id").asc)
    joined
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), graft.Num.rnd(col("sim"), 6).as("sim"))
  }

  /** Exact cosine top-k of each query vector against the full corpus. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = prep(corpus, "c_").crossJoin(broadcast(prep(queries, "q_")))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", dotD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    ranked(joined, k)
  }

  /** Hard-negative mining: for each query, the `k` MOST similar corpus
    * vectors whose similarity sits in [simLo, simHi) — just below the
    * positive/near-dup ceiling. The pair-construction step of contrastive
    * embedding training: negatives too similar are false negatives
    * (they're positives), too dissimilar are uninformative; the band keeps
    * the gradient-bearing middle. Band membership is decided on the
    * 9 dp-rounded similarity (engine-stable, same convention as ranking).
    * Brute-force exact like [[cosineTopK]]; at corpus scale the candidate
    * generation drops to the same cell-pruned/LSH candidate joins, with the
    * band filter applied after exact verification. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    simLo: Double, simHi: Double): DataFrame = {
    require(simLo < simHi, s"need simLo < simHi, got [$simLo, $simHi)")
    val joined = prep(corpus, "c_").crossJoin(broadcast(prep(queries, "q_")))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", dotD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= simLo &&
        graft.Num.rnd(col("sim"), 9) < simHi)
    ranked(joined, k)
  }

  /** LSH-banded hard-negative mining — the corpus-scale candidate path for
    * [[hardNegatives]]: sign-random-projection band buckets on BOTH sides,
    * candidates = (query, corpus) pairs sharing ≥ 1 full band (equi-join on
    * (band, chunk), shuffle O((|corpus|+|queries|)·bands), never the cross
    * product), then EXACT cosine verification, the same [simLo, simHi)
    * band filter, and the same rank. Returned rows are a subset of
    * [[hardNegatives]]' candidate relation with identical sims (OpsSpec
    * pins both, plus determinism under the fixed seed); recall at the band
    * floor simLo follows the SRP curve documented on [[nearDupPairsLsh]] —
    * raise `bands` to push it up (bands=32 ⇒ 2-bit chunks, admission at
    * s = 0.5 already > 99%). */
  def hardNegativesBanded(corpus: DataFrame, queries: DataFrame, k: Int,
                          simLo: Double, simHi: Double,
                          bands: Int = 32, seed: Long = 42L): DataFrame = {
    require(simLo < simHi, s"need simLo < simHi, got [$simLo, $simHi)")
    // each side evaluated + SRP-hashed once for its bucket and verify legs
    val c = semPrepped(corpus, seed)
    val q = semPrepped(queries, seed)
    val candidates = chunksOfSigs(q.select(col("id"), col("__sig")), bands).as("q")
      .join(chunksOfSigs(c.select(col("id"), col("__sig")), bands).as("c"),
        col("q.band") === col("c.band") && col("q.chunk") === col("c.chunk") &&
          col("q.id") =!= col("c.id"))
      .select(col("q.id").as("q_id"), col("c.id").as("c_id"))
      .distinct()
    val joined = candidates
      .join(q.select(col("id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm")), "q_id")
      .join(c.select(col("id").as("c_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm")), "c_id")
      .withColumn("sim", dotD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= simLo &&
        graft.Num.rnd(col("sim"), 9) < simHi)
    ranked(joined, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * corpus by embedding-cosine near-duplicate connected components, keep
    * the BEST-QUALITY document per cluster, drop the rest — the curation
    * pass that removes paraphrase/template duplicates lexical MinHash can't
    * see. Output: one row per document with its cluster, 4-dp quality and
    * the keep/drop decision (rank 1 by rounded quality desc, doc_id
    * tie-break — fully deterministic).
    *
    * Documents outside any near-dup pair (or without an embedding) are
    * their own singleton cluster, kept by definition; the synthetic
    * cluster id = own doc id cannot collide with a real cluster's id
    * because a cluster's id IS the min member id and membership is
    * disjoint. Plan: the pairs→components consolidation is
    * [[graft.ops.Dedup.dedupClusters]] (driver union-find under its 4M-edge
    * `require`, label propagation above); the cluster relation is
    * pair-member-sized — broadcast — so the corpus itself sees one quality
    * projection and one per-cluster rank window. At 100 TB use
    * [[semanticDedupLsh]], which swaps only the pair generation for
    * [[embedClustersLsh]]'s banded candidates — same downstream, never the
    * |corpus|² pair relation. */
  def semanticDedup(docs: DataFrame, embeddings: DataFrame,
                    threshold: Double): DataFrame =
    semanticDedupBy(docs, graft.ops.Dedup.dedupClusters(
      nearDupPairs(embeddings, threshold)
        .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))))

  /** The 100 TB twin of [[semanticDedup]]: identical cluster→quality→keep
    * semantics, but the cluster relation comes from [[embedClustersLsh]] —
    * SRP band/full-signature star edges with exact cosine verification,
    * O(corpus × bands) edges — so no plan stage ever enumerates the
    * |corpus|² pair relation. Recall follows the SRP curve documented on
    * [[nearDupPairsLsh]]: bit-identical embeddings cluster
    * DETERMINISTICALLY through the full-signature star (the q111 gate pins
    * this against the exact recursive-closure oracle on a planted-clone
    * corpus); diffuse near-duplicates remain probabilistic, with the exact
    * form as the oracle baseline. */
  def semanticDedupLsh(docs: DataFrame, embeddings: DataFrame,
                       threshold: Double, bands: Int = 16,
                       seed: Long = 42L): DataFrame =
    semanticDedupBy(docs, embedClustersLsh(embeddings, threshold, bands, seed))

  /** Shared SemDeDup tail over a precomputed (doc_id, cluster_id) relation:
    * quality projection, broadcast cluster attach (singletons ⇒ own id),
    * per-cluster best-quality rank. */
  private def semanticDedupBy(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = docs.select(col("doc_id"),
      graft.Num.rnd(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
    val member = q.join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
    member.withColumn("keep", (row_number().over(w) === 1).cast("long"))
      .select("doc_id", "cluster_id", "quality", "keep")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval combiner: given N per-query rankings (each a relation with
    * `q_id, c_id, rank`), score every candidate
    * Σ_rankings 1/(k0 + rank) and re-rank per query. Rank-based (not
    * score-based) fusion needs no cross-system score calibration — the
    * reason it's the default for fusing lexical (BM25/TF-IDF) with
    * semantic (embedding-cosine) retrieval in RAG stacks. Candidates
    * missing from a ranking simply contribute nothing (the sum has one
    * term). Ordering is engine-stable: rrf rounded to 9 dp, c_id
    * tie-break; per-(q,c) term count is ≤ N, and IEEE addition of the
    * grouped terms is order-insensitive for N ≤ 2 (commutativity) and
    * rounded before every comparison beyond that.
    *
    * Plan shape: one union, one (q_id, c_id) partial-aggregated shuffle,
    * one per-query rank window over relations already truncated to their
    * own top-k — input is O(queries × k × N) however big the corpus. */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 1 && topK >= 1, s"k0/topK must be >= 1, got $k0/$topK")
    val u = rankings
      .map(_.select(col("q_id"), col("c_id"), col("rank")))
      .reduce(_ unionByName _)
    val scored = u.groupBy("q_id", "c_id")
      .agg(sum(lit(1.0) / (lit(k0) + col("rank"))).as("rrf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(graft.Num.rnd(col("rrf"), 9).desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"),
        graft.Num.rnd(col("rrf"), 6).as("rrf"), col("rank"))
  }

  /** ANN quality audit — recall@k of an approximate ranking against the
    * exact one: per query, |approx ∩ exact| / |exact| over the (q_id,
    * c_id) pairs. THE number an IVF/LSH deployment tunes nlist/nprobe/
    * bands against before trading exactness for throughput; queries the
    * approximate index missed entirely still report (recall 0), via the
    * left join. Inputs are any two rankings truncated to their k
    * (`q_id, c_id` columns); plan is one equi-join + two dimension-sized
    * aggregates over O(|Q|·k) rows — free at any corpus size. */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val hits = exact.select("q_id", "c_id")
      .join(approx.select("q_id", "c_id"), Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        graft.Num.rnd(
          coalesce(col("n_hits"), lit(0L)) / col("n_exact").cast("double"), 4)
          .as("recall"))
  }

  /** Semantic decontamination — the embedding-space twin of
    * [[graft.ops.Dedup.contaminated]]: lexical shingle decontamination
    * misses PARAPHRASED benchmark content (same meaning, no shared
    * 8-shingles); this pass flags every train document whose embedding
    * sits within cosine `threshold` of ANY benchmark document. Output: one
    * row per contaminated train doc — `doc_id`, how many benchmark docs it
    * hits, and the strongest similarity (6 dp; membership decided on the
    * 9 dp-rounded sim, the engine-stable convention).
    *
    * Exact baseline form: train × benchmark cross join with the codegen'd
    * dot kernel. No broadcast hint — benchmark sets are usually
    * dimension-sized and Catalyst/AQE broadcasts them when they fit (the
    * containmentPairs lesson); the LSH twin below is the path when BOTH
    * sides are corpus-sized. */
  def semanticContaminated(train: DataFrame, benchmark: DataFrame,
                           threshold: Double): DataFrame =
    prep(train, "a_").crossJoin(prep(benchmark, "b_"))
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= threshold)
      .groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        graft.Num.rnd(max(col("sim")), 6).as("max_sim"))

  /** The corpus-scale twin of [[semanticContaminated]]: CROSS-SIDE-ONLY
    * SRP candidates — (band, chunk) bucket equi-join plus the
    * full-64-bit-signature equality join — then exact cosine verification
    * and the same per-doc aggregation. Shuffle is O((|train| +
    * |benchmark|)·bands) bucket rows + surviving candidates; neither side
    * is ever self-paired and the cross product never materializes.
    *
    * Recall contract (same shape as [[embedClustersLsh]]): bit-identical
    * embeddings — the copy-paste leak — hit DETERMINISTICALLY through the
    * full-signature join; paraphrase-distance pairs are SRP-probabilistic
    * through the band buckets (8 bands ⇒ 8-bit chunks; P[miss] ≈ 6.5% at
    * sim 0.9, falling fast toward 1.0 — widen `bands` toward 16 to trade
    * candidate volume for recall). The exact form is the oracle; the q129
    * gate plants benchmark clones at a threshold where real data is
    * silent, making the LSH answer hash-equal to exact. */
  def semanticContaminatedLsh(train: DataFrame, benchmark: DataFrame,
                              threshold: Double, bands: Int = 8,
                              seed: Long = 42L): DataFrame = {
    // each side evaluated + SRP-hashed ONCE for its three legs (band
    // chunks, signature join, verify side); pins follow the module's
    // lazy-return cache contract (caller clearCache / ContextCleaner)
    val t = semPrepped(train, seed)
    val b = semPrepped(benchmark, seed)
    val candBand = chunksOfSigs(t.select(col("id"), col("__sig")), bands).as("t")
      .join(chunksOfSigs(b.select(col("id"), col("__sig")), bands).as("b"),
        col("t.band") === col("b.band") && col("t.chunk") === col("b.chunk"))
      .select(col("t.id").as("a_id"), col("b.id").as("b_id"))
    val candSig = t.select(col("id"), col("__sig")).as("t")
      .join(b.select(col("id"), col("__sig")).as("b"),
        col("t.__sig") === col("b.__sig"))
      .select(col("t.id").as("a_id"), col("b.id").as("b_id"))
    candBand.unionByName(candSig).distinct()
      .join(t.select(col("id").as("a_id"), col("emb").as("a_emb"),
        col("norm").as("a_norm")), "a_id")
      .join(b.select(col("id").as("b_id"), col("emb").as("b_emb"),
        col("norm").as("b_norm")), "b_id")
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= threshold)
      .groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        graft.Num.rnd(max(col("sim")), 6).as("max_sim"))
  }

  /** The persisted semantic cross-dedup INDEX of a shipped corpus:
    * (vec_id, embedding double[], norm, sig) — the per-vector work the
    * static side of [[semanticContaminatedLsh]] needs (float→double cast,
    * the norm, and the 64-projection SRP signature), paid ONCE when the
    * corpus ships. SRP band chunks derive from `sig` by pure bit
    * arithmetic at use time. Plain columnar data — parquet round-trips it
    * exactly ([[graft.Io.writeReleaseIndex]]). */
  def buildSemIndex(embeddings: DataFrame, seed: Long = 42L): DataFrame =
    prep(embeddings, "").select(col("id").as("vec_id"),
      col("emb").as("embedding"), col("norm"),
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.CosineLshSig(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("emb")),
          64, seed)).as("sig"))

  /** [[semanticContaminatedLsh]] against a PRECOMPUTED index
    * ([[buildSemIndex]]'s relation, possibly filtered to the retained
    * ids): identical results and candidate generation, but the static
    * side pays no cast/norm/SRP kernel per re-cut — only the chunk
    * bit-derivation and the verify join. */
  def semanticContaminatedLshIndexed(train: DataFrame, semIndex: DataFrame,
                                     threshold: Double, bands: Int = 8,
                                     seed: Long = 42L): DataFrame = {
    require(64 % bands == 0 && bands >= 2,
      s"bands must divide 64 and be >= 2, got $bands")
    val width = 64 / bands
    val idxSigs = semIndex.select(col("vec_id").as("id"), col("sig").as("__sig"))
    val idxChunks = idxSigs.select(col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("__sig"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)).as("bc"))
      .select(col("id"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    // train side evaluated + SRP-hashed ONCE for its three legs (the
    // semPrepped discipline; the index side is precomputed by contract)
    val t = semPrepped(train, seed)
    val candBand = chunksOfSigs(t.select(col("id"), col("__sig")), bands).as("t")
      .join(idxChunks.as("b"),
        col("t.band") === col("b.band") && col("t.chunk") === col("b.chunk"))
      .select(col("t.id").as("a_id"), col("b.id").as("b_id"))
    val candSig = t.select(col("id"), col("__sig")).as("t")
      .join(idxSigs.as("b"), col("t.__sig") === col("b.__sig"))
      .select(col("t.id").as("a_id"), col("b.id").as("b_id"))
    val idxPrep = semIndex.select(col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("norm").as("b_norm"))
    candBand.unionByName(candSig).distinct()
      .join(t.select(col("id").as("a_id"), col("emb").as("a_emb"),
        col("norm").as("a_norm")), "a_id")
      .join(idxPrep, "b_id")
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= threshold)
      .groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        graft.Num.rnd(max(col("sim")), 6).as("max_sim"))
  }

  /** Streaming twin of [[semanticContaminatedLsh]] — the ingest-time
    * deployment: newly embedded documents arrive as a STREAM
    * `(ingest_ts, vec_id, embedding)` and are checked against the STATIC
    * benchmark relation as they land, so leaked eval content never reaches
    * the training corpus at all. Emits each contaminated doc exactly once
    * (`doc_id, n_bench_hits, max_sim`) when the watermark passes its
    * ingest time.
    *
    * Plan (the newAgainstIndexStream shape): watermark →
    * `dropDuplicatesWithinWatermark(vec_id)` → per-row SRP band chunks +
    * full 64-bit signature (stateless explode) → stream-static equi-join
    * against the benchmark's (band, chunk) bucket relation — candidates by
    * band collision OR full-signature equality, the benchmark hashed once
    * per run — → exact cosine verify → per-(ts, id) append aggregation.
    * State is the in-horizon stream only; recall follows
    * [[semanticContaminatedLsh]]'s contract (identical embeddings
    * deterministic via the signature arm; OpsSpec pins stream-vs-batch
    * agreement). */
  def semanticContaminatedStream(newDocs: DataFrame, benchmark: DataFrame,
                                 threshold: Double, bands: Int = 8,
                                 seed: Long = 42L,
                                 watermark: String = "2 hours"): DataFrame = {
    require(64 % bands == 0 && bands >= 2,
      s"bands must divide 64 and be >= 2, got $bands")
    val width = 64 / bands
    // static side: benchmark bucket relation carrying the prep'd vector
    // for the verify; band = -1 rows are the full-signature arm (a real
    // band index is always >= 0, so the arms can't cross-match)
    val bPrep = prep(benchmark, "b_")
    val bSig = bPrep.withColumn("__sig",
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.CosineLshSig(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("b_emb")), 64, seed)))
    val bBuckets = bSig.select(col("b_id"), col("b_emb"), col("b_norm"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * width)
              .bitwiseAND(lit((1L << width) - 1)).as("chunk"))) :+
          struct(lit(-1).as("band"), col("__sig").as("chunk")): _*)).as("bk"))
      .select(col("b_id"), col("b_emb"), col("b_norm"),
        col("bk.band").as("i_band"), col("bk.chunk").as("i_chunk"))
    val sig = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.CosineLshSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("a_emb")), 64, seed))
    val st = newDocs
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("vec_id")
      .select(col("ingest_ts"), col("vec_id").as("a_id"),
        col("embedding").cast("array<double>").as("a_emb"))
      .withColumn("a_norm", sqrt(dotD(col("a_emb"), col("a_emb"))))
      .withColumn("__sig", sig)
      .withColumn("bk", explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("__sig"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))) :+
        struct(lit(-1).as("band"), col("__sig").as("chunk")): _*)))
    st.join(bBuckets,
        col("bk.band") === col("i_band") && col("bk.chunk") === col("i_chunk"))
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= threshold)
      // a (doc, benchmark) pair can match through several buckets — count
      // each benchmark doc once, like the batch twin's distinct candidates.
      // collect_set, not count(DISTINCT): distinct aggregates are
      // unsupported on streams, and the per-doc hit set is bounded by the
      // benchmark's near-neighborhood of one embedding (dimension-sized).
      .groupBy(col("ingest_ts"), col("a_id").as("doc_id"))
      .agg(size(collect_set(col("b_id"))).cast("long").as("n_bench_hits"),
        graft.Num.rnd(max(col("sim")), 6).as("max_sim"))
      .select(col("doc_id"), col("n_bench_hits"), col("max_sim"))
  }

  /** Fixture-silence precondition for the planted-clone LSH gates (q127's
    * [[semanticDedupLsh]] stage, q111, q60): the gates are FULL hash gates
    * only because the real (non-planted) corpus has no near-threshold pair —
    * SRP band recall is probabilistic (~6.5% miss per pair at sim 0.9 with
    * 8 bands), so one real pair in [threshold, 1) that is not bit-identical
    * would turn LSH-vs-exact divergence into a spurious red CORRECTNESS row
    * that reads as an engine bug. This runs the EXACT kernel over the real
    * corpus restricted to rnd(sim, 9) ≥ threshold and requires every
    * surviving pair to be bit-identical (those route through the
    * deterministic full-signature arm, so they cannot diverge). Quadratic
    * BY DESIGN — it is gate/fixture tooling validating a corpus property,
    * not a production operator; callers memoize per (corpus, threshold)
    * so verify/bench reps pay it once per JVM (see FIXTURES.md §2.2). */
  def requireSilentAbove(real: DataFrame, threshold: Double,
                         what: String): Unit = {
    val offenders = prep(real, "a_").crossJoin(prep(real, "b_"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= threshold &&
        !(col("a_emb") === col("b_emb")))
      .limit(1).count()
    require(offenders == 0,
      s"$what: found a real (non-planted) embedding pair with cosine >= " +
        s"$threshold that is not bit-identical — the planted LSH gate's " +
        "full-hash determinism no longer holds for this fixture; regenerate " +
        "the fixture or raise the gate threshold (FIXTURES.md §2.2)")
  }

  /** Cross-relation twin of [[requireSilentAbove]] for the q129
    * train×benchmark gate: every real (train, benchmark) pair at
    * rnd(sim, 9) ≥ threshold must be bit-identical. Same memoize-per-fixture
    * contract. */
  def requireCrossSilentAbove(train: DataFrame, bench: DataFrame,
                              threshold: Double, what: String): Unit = {
    val offenders = prep(train, "a_").crossJoin(prep(bench, "b_"))
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(graft.Num.rnd(col("sim"), 9) >= threshold &&
        !(col("a_emb") === col("b_emb")))
      .limit(1).count()
    require(offenders == 0,
      s"$what: found a real train×benchmark embedding pair with cosine >= " +
        s"$threshold that is not bit-identical — the planted LSH gate's " +
        "full-hash determinism no longer holds for this fixture; regenerate " +
        "the fixture or raise the gate threshold (FIXTURES.md §2.2)")
  }

  /** Retrieval-quality metrics — per-query MRR and NDCG@k of an
    * approximate ranking against the exact one, with binary relevance =
    * membership in the exact top-k (the pseudo-relevance discipline of
    * [[annRecall]], which only measures set overlap; these two add the
    * POSITION sensitivity an ANN/hybrid deployment actually tunes:
    * recall@k can stay flat while the index pushes true neighbors from
    * rank 1 to rank k). `mrr` = 1/rank of the first relevant hit in the
    * approximate list (0 if none); `ndcg` = DCG over the approximate
    * ranks of relevant hits ÷ ideal DCG for min(k, |relevant|). Inputs
    * are any two `(q_id, c_id, rank)` rankings already truncated to their
    * k; one O(|Q|·k) equi-join + dimension-sized folds — free at any
    * corpus size. */
  def rankingMetrics(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hits = approx.select(col("q_id"), col("c_id"), col("rank"))
      .join(exact.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"))
    val perQ = hits.groupBy("q_id")
      .agg(min(col("rank")).as("__first"),
        sum(lit(1.0) / log2(col("rank").cast("double") + 1)).as("__dcg"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
      .join(perQ, Seq("q_id"), "left")
      .withColumn("__idcg", aggregate(
        sequence(lit(1), least(col("n_rel"), lit(k.toLong)).cast("int")),
        lit(0.0), (a, i) => a + lit(1.0) / log2(i.cast("double") + 1)))
      .select(col("q_id"), col("n_rel"),
        graft.Num.rnd(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("mrr"),
        graft.Num.rnd(coalesce(col("__dcg") / col("__idcg"), lit(0.0)), 6).as("ndcg"))
  }

  /** Embedding-cosine near-duplicate pairs: exact all-pairs self-join with
    * the dot-product kernel, `a < b` dedupe, cosine ≥ threshold. The
    * brute-force baseline — at corpus scale the candidate set shrinks via
    * the same cell-pruned equi-join as [[partitionedTopK]] or random
    * hyperplane LSH before this exact verify. */
  def nearDupPairs(corpus: DataFrame, threshold: Double): DataFrame =
    prep(corpus, "a_").join(prep(corpus, "b_"), col("a_id") < col("b_id"))
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), graft.Num.rnd(col("sim"), 6).as("sim"))

  /** LSH-bucketed near-duplicate pairs — the 100 TB path for
    * [[nearDupPairs]]: 64-bit sign-random-projection signatures
    * ([[graft.expr.CosineLshSig]], Goemans–Williamson family), banded into
    * `bands` chunks; candidates are pairs sharing at least one full band
    * (equi-join on (band, chunk) — shuffle O(|corpus|·bands), never the
    * |corpus|² cross product), then EXACT cosine verification. Recall is
    * probabilistic: a pair at cosine s agrees per bit w.p. 1 − arccos(s)/π,
    * so with 16 bands × 4 bits a pair at s = 0.4 (bit agreement .631) is
    * admitted w.p. ≈ 1 − (1 − .631⁴)⁵¹³… ≈ 93%, rising steeply with s —
    * near-duplicates (s ≥ 0.9, agreement .856) are caught w.p. > 99.99%.
    * The exact all-pairs form stays the oracle path; this operator's
    * contract (candidates ⊆ exact answer, deterministic under the fixed
    * seed) is pinned by OpsSpec. */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
                      bands: Int = 16, seed: Long = 42L): DataFrame = {
    // corpus evaluated + SRP-hashed once for the bucket self-join and both
    // verify sides (semPrepped pin; lazy-return cache contract)
    val pp = semPrepped(corpus, seed)
    val chunks = chunksOfSigs(pp.select(col("id"), col("__sig")), bands)
    val candidates = chunks.as("x").join(chunks.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    candidates
      .join(pp.select(col("id").as("a_id"), col("emb").as("a_emb"),
        col("norm").as("a_norm")), "a_id")
      .join(pp.select(col("id").as("b_id"), col("emb").as("b_emb"),
        col("norm").as("b_norm")), "b_id")
      .withColumn("sim", dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), graft.Num.rnd(col("sim"), 6).as("sim"))
  }

  /** (id, __sig) 64-bit sign-random-projection signatures. */
  private def srpSigs(corpus: DataFrame, seed: Long): DataFrame =
    prep(corpus, "").withColumn("__sig",
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.CosineLshSig(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("emb")), 64, seed)))
      .select(col("id"), col("__sig"))

  /** The per-vector relation every SRP leg of one operator call needs —
    * (id, emb double[], norm, __sig) — computed ONCE and PINNED: the LSH
    * operators below consume their input through up to four legs (band
    * chunks, full-signature groups, and both verify sides), and without a
    * pin each leg re-evaluates the input lineage (often a corpus ⋈
    * survivor-ids join) and re-runs the 64-projection SRP kernel
    * (guide §2.4 — the minHashPairs shingle-set discipline applied to the
    * semantic family). Callers whose tail is EAGER (embedClustersLsh's
    * components) unpersist before returning; lazy-returning operators
    * leave the pin to the caller's clearCache / ContextCleaner, the
    * module's documented cache contract. */
  private def semPrepped(corpus: DataFrame, seed: Long): DataFrame =
    prep(corpus, "").withColumn("__sig",
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.CosineLshSig(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("emb")),
          64, seed)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** (id, band, chunk) band buckets from a relation already carrying the
    * 64-bit `__sig` — pure bit arithmetic, no per-vector kernel. */
  private def chunksOfSigs(sigs: DataFrame, bands: Int): DataFrame = {
    require(64 % bands == 0 && bands >= 2,
      s"bands must divide 64 and be >= 2, got $bands")
    // (bands=1 would need mask (1L<<64)-1, which the JVM's mod-64 shift
    // turns into 0 — every row would share one bucket = full cross product)
    val width = 64 / bands
    sigs.select(col("id"), col("__sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("__sig"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)).as("bc"))
      .select(col("id"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
  }

  /** Embedding near-dup CLUSTERS without pair enumeration — the cosine twin
    * of [[graft.ops.Dedup.clustersLsh]]: one exact-verified edge per
    * (band, bucket) member to the bucket's min-id hub (window aggregate),
    * UNION one verified edge per member to its FULL-SIGNATURE group's min
    * id, then min-label connected components. O(corpus×bands) edges however
    * duplicated the corpus; a c-way-duplicated embedding cluster costs
    * [[nearDupPairs]] O(c²) pairs by contract.
    *
    * The full-signature star is what makes exact-duplicate vectors
    * DETERMINISTICALLY cluster: bit-identical embeddings share all 64 SRP
    * bits, so every clone group connects through its own min-id member
    * regardless of which unrelated vector happens to be the min of a shared
    * band bucket (4-bit band chunks are coarse — a bucket's hub is usually
    * an unrelated vector that fails verification, which would otherwise
    * orphan the clones; q60 gates this exactly against the recursive
    * closure over a planted-clone corpus). Near-duplicate (not identical)
    * recall stays SRP-probabilistic through the band star, plus the anchor
    * approximation: a true pair survives only if its endpoints stay
    * connected through verified hub edges — one endpoint failing its hubs
    * suffices to split. The exact pair path stays the oracle. */
  def embedClustersLsh(corpus: DataFrame, threshold: Double,
                       bands: Int = 16, seed: Long = 42L): DataFrame = {
    // one corpus evaluation + one SRP kernel pass for all four legs (band
    // star, signature star, both verify sides) — the input is often a
    // corpus ⋈ survivor-ids join that would otherwise run 4×
    val pp = semPrepped(corpus, seed)
    val wBucket = org.apache.spark.sql.expressions.Window.partitionBy("band", "chunk")
    val bandStar = chunksOfSigs(pp.select(col("id"), col("__sig")), bands)
      .withColumn("hub", min("id").over(wBucket))
      .filter(col("id") =!= col("hub"))
      .select(col("hub").as("a_id"), col("id").as("b_id"))
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy("__sig")
    val sigStar = pp.select(col("id"), col("__sig"))
      .withColumn("hub", min("id").over(wSig))
      .filter(col("id") =!= col("hub"))
      .select(col("hub").as("a_id"), col("id").as("b_id"))
    val star = bandStar.unionByName(sigStar).distinct()
    val verified = star
      .join(pp.select(col("id").as("a_id"), col("emb").as("a_emb"),
        col("norm").as("a_norm")), "a_id")
      .join(pp.select(col("id").as("b_id"), col("emb").as("b_emb"),
        col("norm").as("b_norm")), "b_id")
      .withColumn("sim",
        dotD(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("sim") >= threshold)
    val labels = Dedup.dedupClusters(
      verified.select(col("a_id").as("doc_a"), col("b_id").as("doc_b")))
    // dedupClusters is EAGER — nothing references the pin anymore
    pp.unpersist(blocking = false)
    labels
  }

  /** Learned IVF coarse centroids: k-means (spark.ml, fixed seed, 8 Lloyd
    * iterations — the coarse quantizer only has to be a reasonable
    * partitioner; recall comes from nProbe, not cell optimality). When the
    * corpus exceeds `fitSampleCap` rows the fit runs on a seeded ~cap-row
    * SAMPLE — at 100 TB the 8 Lloyd passes touch ≤ cap rows, not the
    * corpus; the full corpus only ever sees the single assignment pass in
    * [[ivfTopK]]. Deterministic for a given corpus + seed (sampling
    * included); sampled-fit recall is pinned by OpsSpec. */
  def ivfCentroids(corpus: DataFrame, nCells: Int = 16, seed: Long = 42L,
                   fitSampleCap: Long = 65536): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = prep(corpus, "c_").withColumn("__v", array_to_vector(col("c_emb")))
    val n = vecs.count()
    val fitInput =
      if (n > fitSampleCap) vecs.sample(fitSampleCap.toDouble / n, seed)
      else vecs
    new KMeans().setK(nCells).setSeed(seed).setMaxIter(8)
      .setFeaturesCol("__v").setPredictionCol("cell").fit(fitInput)
      .clusterCenters.map(_.toArray)
  }

  /** Product-quantization codebooks (Jégou et al. 2011): split the
    * embedding into `m` contiguous subspaces and fit an independent
    * k-means codebook (k = `kCents`) per subspace — the compression that
    * turns a d-dim float vector into `m` small codes (here m bytes at
    * kCents ≤ 256), the memory step that makes billion-vector ANN indexes
    * fit in RAM. Same fit discipline as [[ivfCentroids]]: seeded spark.ml
    * k-means (seed + subspace index), 8 Lloyd iterations, sample-capped —
    * at 100 TB the fits touch ≤ cap rows; only the single encode pass sees
    * the corpus. Deterministic for a given corpus + seed. */
  def pqCodebooks(corpus: DataFrame, m: Int = 8, kCents: Int = 16,
                  seed: Long = 42L,
                  fitSampleCap: Long = 65536): Array[Array[Array[Double]]] = {
    val vecs = prep(corpus, "c_")
    val dim = vecs.select(size(col("c_emb"))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must divide into $m subspaces")
    val d = dim / m
    val n = vecs.count()
    // The fit input is BOUNDED by design (≤ fitSampleCap rows — the
    // ivfCentroids contract), so collect the seeded sample ONCE and run
    // the m Lloyd fits driver-locally: a spark.ml fit is ~30 tiny
    // driver-scheduled jobs, and m of them made the codebook build
    // job-latency-bound (measured 11 s sequential / 6 s concurrent at
    // sf0.1 vs ~1 s local). Driver state is ≤ cap × dim doubles — a
    // sanctioned bounded collect, like the union-find edge set. The
    // corpus-scale passes (encode, ADC scoring) stay distributed.
    val sample =
      (if (n > fitSampleCap) vecs.sample(fitSampleCap.toDouble / n, seed)
       else vecs)
        .select(col("c_emb")).collect().map(_.getSeq[Double](0).toArray)
    (0 until m).map { mi =>
      localKMeans(sample.map(_.slice(mi * d, mi * d + d)), kCents, seed + mi)
    }.toArray
  }

  /** Seeded driver-local Lloyd (8 iterations): init = seeded shuffle of
    * the DISTINCT points (duplicate-heavy samples can't collapse cells),
    * assignment by strict-less d² (first/lowest-index centroid wins ties),
    * empty cells keep their previous centroid — fully deterministic for a
    * given (points, k, seed), which is what lets the generated q130 oracle
    * replay the identical codebooks. */
  private[ops] def localKMeans(points: Array[Array[Double]], k: Int,
                               seed: Long, iters: Int = 8): Array[Array[Double]] = {
    require(points.nonEmpty, "localKMeans needs at least one point")
    val dim = points(0).length
    val distinct = points.map(_.toSeq).distinct.map(_.toArray)
    val rnd = new scala.util.Random(seed)
    var cents = rnd.shuffle(distinct.indices.toVector)
      .take(math.min(k, distinct.length)).map(distinct(_).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var s = 0.0; var j = 0
          while (j < dim) { val t = p(j) - cents(c)(j); s += t * t; j += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnts(c) == 0) cents(c)
        else {
          val a = new Array[Double](dim); var j = 0
          while (j < dim) { a(j) = sums(c)(j) / cnts(c); j += 1 }
          a
        }
      }
    }
    cents
  }

  /** `codes` column: per subspace, the nearest codebook centroid id —
    * the same rounded-d² + centroid-id tie-break as [[nearestCell]], per
    * subspace, so the assignment is reproducible across engines. Pure
    * map-side expression over literal centroids — the PQ ENCODE pass. */
  private def pqCodesCol(emb: Column,
                         books: Array[Array[Array[Double]]]): Column = {
    val d = books(0)(0).length
    array(books.indices.map { mi =>
      val sub = slice(emb, mi * d + 1, d)
      val cs = books(mi)
      array_min(array(cs.indices.map(c =>
        struct(graft.Num.rnd(lit(selfDot(cs(c))) - lit(2.0) * dotD(sub, lit(cs(c))), 6).as("d2"),
          lit(c).as("cell"))): _*)).getField("cell")
    }: _*)
  }

  /** PQ top-k by ASYMMETRIC DISTANCE (ADC): the corpus is stored only as
    * its `m` codes; each query precomputes a lookup table
    * `lut[m][cell] = ⟨q_m, centroid⟩` once (m·kCents dots against literal
    * centroids), and every query×candidate score is then the O(m) ordered
    * fold Σ_m lut[m][code_m] — never a d-dim dot against the raw corpus
    * vector. That is the PQ deployment shape: the scan reads m small codes
    * per vector instead of d floats (16× less memory at m=8, d=128 bytes),
    * queries broadcast with their LUTs. Scores approximate the raw inner
    * product (cosine on normalized corpora); rank by 9 dp-rounded score
    * with c_id tie-break. The exact [[cosineTopK]] is the recall oracle —
    * audited with [[annRecall]] as the gated q134; the q130 gate pins the
    * whole encode→LUT→rank arithmetic against a generated DuckDB twin with
    * the same learned codebook literals (the q44 discipline).
    *
    * Cache contract (one-shot form): the encoded code relation stays
    * pinned after consumption — caller frees (`spark.catalog.clearCache()`);
    * long-lived sessions use [[buildIvfPqIndex]]/[[AnnIndex.unpersist]]. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, kCents: Int = 16, seed: Long = 42L): DataFrame = {
    val books = pqCodebooks(corpus, m, kCents, seed)
    val d = books(0)(0).length
    // PERSISTED: the encoded relation IS the PQ index — m codes per
    // vector, built once and stored (that's the operator's whole point).
    // Without the pin, CollapseProject inlines the encode expression
    // (m·kCents literal-centroid dots per row) into the join's output
    // projection and it re-runs PER CANDIDATE PAIR — measured 2,500
    // task-seconds for the 50M-pair 10× replica scan vs ~25 with the
    // index materialized. Cache size is |corpus| × m ints.
    val enc = prep(corpus, "c_")
      .select(col("c_id"), pqCodesCol(col("c_emb"), books).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lut = array(books.indices.map(mi =>
      array(books(mi).indices.map(c =>
        dotD(slice(col("q_emb"), mi * d + 1, d), lit(books(mi)(c)))): _*)): _*)
    val q = prep(queries, "q_").select(col("q_id"), lut.as("lut"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(graft.Num.rnd(col("score"), 9).desc, col("c_id").asc)
    enc.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      // codegen'd ADC kernel, ascending-m IEEE fold (mirrored by the
      // generated oracle); the zip_with+aggregate Column form it replaces
      // ran two interpreted HigherOrderFunctions per candidate pair
      .withColumn("score", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.PqAdcScore(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("lut")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("codes")))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"),
        graft.Num.rnd(col("score"), 6).as("score"))
  }

  /** Sequential Σv², matching [[graft.expr.DotProduct]]'s left-to-right
    * accumulation so driver-side centroid norms are bit-identical to the
    * codegen'd ones (and to DuckDB's list_inner_product in the generated
    * q44 oracle). */
  def selfDot(v: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < v.length) { s += v(j) * v(j); j += 1 }
    s
  }

  /** Nearest-centroid cell id for an embedding column, against LITERAL
    * centroids: per-cell d² = ‖cent‖² − 2·emb·cent (the ‖emb‖² term is
    * constant per row — dropped), rounded to 6 dp with cell-id tie-break so
    * the choice is reproducible across engines (the generated q44 oracle
    * evaluates the same expression in DuckDB), then argmin via array_min
    * over (d², cell) structs. Pure map-side codegen — no shuffle, no ml
    * transform; the centroid relation is nCells × dim literals. */
  private def nearestCell(emb: Column, cents: Array[Array[Double]]): Column = {
    val c2 = cents.map(selfDot)
    array_min(array(cents.indices.map(i =>
      struct(graft.Num.rnd(lit(c2(i)) - lit(2.0) * dotD(emb, lit(cents(i))), 6).as("d2"),
        lit(i).as("cell"))): _*)).getField("cell")
  }

  /** IVF with LEARNED coarse centroids — the full ANN index shape. Build:
    * [[ivfCentroids]] (sample-capped k-means fit); every corpus vector is
    * assigned to its nearest centroid ([[nearestCell]] — one map-side
    * codegen'd pass, the inverted list). Search: each query probes its
    * `nProbe` nearest cells (array_sort over the literal centroid set —
    * no window, no crossJoin), candidates come from an equi-join on the
    * cell id — shuffle O(nProbe·|queries|) broadcast against the assigned
    * corpus, never |Q|×|C|. Recall is tunable via nProbe (test-pinned
    * ≥ 0.9 at nProbe=8/16 cells on the synthetic corpus; nProbe=nCells
    * recovers the exact answer); the exact [[cosineTopK]] stays the oracle
    * path, and q44's DuckDB oracle replays this exact plan over the
    * learned centroid literals. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = AnnNProbe, seed: Long = 42L,
              fitSampleCap: Long = 65536): DataFrame = {
    val cents = ivfCentroids(corpus, nCells, seed, fitSampleCap)
    val c2 = cents.map(selfDot)
    val assigned = prep(corpus, "c_")
      .withColumn("cell", nearestCell(col("c_emb"), cents))
    // nProbe nearest cells per query: sort the literal (d², cell) structs
    // ascending and explode the first nProbe — map-side, |Q|·nProbe rows.
    val probes = prep(queries, "q_")
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        explode(slice(array_sort(array(cents.indices.map(i =>
          struct(graft.Num.rnd(lit(c2(i)) - lit(2.0) * dotD(col("q_emb"), lit(cents(i))), 6).as("d2"),
            lit(i).as("cell"))): _*)), 1, nProbe)).as("pc"))
      .select(col("pc.cell").as("cell"), col("q_id"), col("q_emb"), col("q_norm"))
    val joined = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", dotD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    ranked(joined, k)
  }

  /** IVF-PQ top-k — the full production ANN index shape (the FAISS
    * composition): a learned COARSE quantizer restricts candidates to each
    * query's `nProbe` nearest cells ([[ivfTopK]]'s search), and within
    * those cells candidates are scored by PQ ASYMMETRIC DISTANCE against
    * the stored m-code representation ([[pqTopK]]'s LUT fold) — never a
    * full-dimension dot against a raw corpus vector, and never a candidate
    * outside the probed cells. The persisted (cell, codes) relation IS the
    * index: one coarse id + m small codes per vector. Shuffle is the
    * cell-keyed equi-join of O(|Q|·nProbe) broadcast probe rows against
    * the assigned corpus — the cell-pruned candidate volume of IVF at the
    * per-candidate cost and memory of PQ. Both quantizers are
    * deterministic ([[ivfCentroids]] seeded spark.ml fit; [[pqCodebooks]]
    * seeded local Lloyd), so the generated q132 oracle replays them as
    * literals; recall/rank fidelity is audited with [[annRecall]] /
    * [[rankingMetrics]] (q134/q135) like every ANN path.
    *
    * Cache contract (one-shot form): the encoded index relation stays
    * pinned MEMORY_AND_DISK after the returned frame is consumed — the
    * CALLER frees it (`spark.catalog.clearCache()`, the verify/bench
    * harness discipline). A long-lived session that searches repeatedly or
    * ingests new vectors should hold the [[buildIvfPqIndex]] handle
    * instead and `AnnIndex.unpersist()` when done. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = AnnNProbe,
                m: Int = 8, kCents: Int = 16, seed: Long = 42L,
                fitSampleCap: Long = 65536): DataFrame = {
    val idx = buildIvfPqIndex(corpus, nCells, m, kCents, seed, fitSampleCap)
    idx.search(queries, k, nProbe)
  }

  /** Frozen-quantizer IVF-PQ encode — the vector-side twin of
    * [[graft.ops.Dedup.newAgainstIndex]]'s ingest discipline: map each
    * `(vec_id, embedding)` row to `(c_id, cell, codes)` against FROZEN
    * centroid/codebook literals ([[nearestCell]] + per-subspace code
    * assignment, the exact arithmetic the generated q130/q132/q133 oracles
    * replay in SQL). A pure stateless projection — no shuffle, no fit, no
    * action — so the SAME function encodes a batch daily drop and a
    * Structured Streaming frame (`readStream` → encode → append sink); the
    * index side is never re-encoded and the quantizers never retrained. */
  def encodeIvfPq(vecs: DataFrame, cents: Array[Array[Double]],
                  books: Array[Array[Array[Double]]]): DataFrame =
    prep(vecs, "c_")
      .select(col("c_id"), nearestCell(col("c_emb"), cents).as("cell"),
        pqCodesCol(col("c_emb"), books).as("codes"))

  /** Build the IVF-PQ index as a MANAGED HANDLE: fit both quantizers
    * (seeded, sample-capped — deterministic), encode the corpus once, pin
    * the `(c_id, cell, codes)` relation MEMORY_AND_DISK (the q130 lesson:
    * an unpinned encode projection gets inlined into the candidate join
    * and re-runs per candidate pair). The handle owns the pinned
    * relation(s): [[AnnIndex.search]] runs queries against it,
    * [[AnnIndex.append]] ingests new vectors against the FROZEN quantizers
    * without touching the existing index, [[AnnIndex.unpersist]] releases
    * every pinned relation — the cache-lifecycle contract the one-shot
    * [[ivfPqTopK]]/[[pqTopK]] forms leave to the caller. */
  def buildIvfPqIndex(corpus: DataFrame, nCells: Int = 16, m: Int = 8,
                      kCents: Int = 16, seed: Long = 42L,
                      fitSampleCap: Long = 65536): AnnIndex = {
    val cents = ivfCentroids(corpus, nCells, seed, fitSampleCap)
    val books = pqCodebooks(corpus, m, kCents, seed, fitSampleCap)
    val enc = encodeIvfPq(corpus, cents, books)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new AnnIndex(cents, books, enc, Seq(enc))
  }

  /** The IVF-PQ search tail over an already-encoded index relation
    * `(c_id, cell, codes)`: per-query LUT + nProbe probe cells (map-side,
    * against the literal centroid set), cell-keyed equi-join of the
    * broadcast probes against the index, codegen'd O(m) ADC fold, rank.
    * Public so an index RESTORED from storage (the encoded relation is
    * plain columnar data — write it to parquet, read it back) can be
    * searched against its frozen quantizers without re-encoding. */
  def searchIvfPq(index: DataFrame, cents: Array[Array[Double]],
                  books: Array[Array[Array[Double]]],
                  queries: DataFrame, k: Int,
                  nProbe: Int): DataFrame = {
    val c2 = cents.map(selfDot)
    val d = books(0)(0).length
    val lut = array(books.indices.map(mi =>
      array(books(mi).indices.map(c =>
        dotD(slice(col("q_emb"), mi * d + 1, d), lit(books(mi)(c)))): _*)): _*)
    val probes = prep(queries, "q_")
      .select(col("q_id"), lut.as("lut"),
        explode(slice(array_sort(array(cents.indices.map(i =>
          struct(graft.Num.rnd(lit(c2(i)) - lit(2.0) * dotD(col("q_emb"), lit(cents(i))), 6).as("d2"),
            lit(i).as("cell"))): _*)), 1, nProbe)).as("pc"))
      .select(col("pc.cell").as("cell"), col("q_id"), col("lut"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(graft.Num.rnd(col("score"), 9).desc, col("c_id").asc)
    index.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.PqAdcScore(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("lut")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("codes")))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"),
        graft.Num.rnd(col("score"), 6).as("score"))
  }

  /** IVF-PQ search with an EXACT RE-RANKING stage — the FAISS refine
    * pattern, and the standard fix for the quantization-distortion head
    * reordering the q134/q135 audits measure: the ADC index retrieves
    * `refineFactor`·k candidates per query from the probed cells (cheap,
    * code-priced), then ONLY those candidates are re-scored by exact
    * cosine against the raw embeddings — a candidate-keyed equi-join back
    * to the corpus, O(|Q|·refineFactor·k) raw-vector reads however large
    * the corpus, never a scan — and re-ranked to the final top-k. Output
    * ranks by exact similarity (`sim`, the [[cosineTopK]] convention), so
    * [[annRecall]] against the exact ranking measures pure CANDIDATE
    * recall: every true neighbor the ADC stage admits lands in the right
    * order. Both quantizer fits are the deterministic q132 ones; the
    * generated q136 oracle replays ADC candidates + exact re-rank in SQL.
    *
    * Cache contract: same as [[ivfPqTopK]] (caller frees the pinned code
    * index; use [[buildIvfPqIndex]] in long-lived sessions). */
  def ivfPqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      refineFactor: Int = 4,
                      nCells: Int = 16, nProbe: Int = AnnNProbe,
                      m: Int = 8, kCents: Int = 16, seed: Long = 42L,
                      fitSampleCap: Long = 65536): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val idx = buildIvfPqIndex(corpus, nCells, m, kCents, seed, fitSampleCap)
    val cand = idx.search(queries, k * refineFactor, nProbe)
      .select("q_id", "c_id")
    val joined = cand
      .join(prep(corpus, "c_"), "c_id")
      .join(prep(queries, "q_"), "q_id")
      .withColumn("sim", dotD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    ranked(joined, k)
  }

  /** Streaming twin of [[searchIvfPq]] — ONLINE ANN SERVING: queries
    * arrive as a stream `(ingest_ts, vec_id, embedding)` and are answered
    * against the STATIC index relation (persisted by
    * [[buildIvfPqIndex]]/[[AnnIndex.append]] or restored from parquet).
    * Emits each query's top-k `(q_id, c_id, rank, score)` exactly once
    * when the watermark passes its ingest time.
    *
    * Plan: watermark → `dropDuplicatesWithinWatermark(vec_id)`
    * (re-delivered queries collapse) → stateless LUT + nProbe probe-cell
    * projection (per-row arithmetic against literal quantizers — nothing
    * learned at query time) → stream-static cell equi-join against the
    * index → codegen'd O(m) ADC fold → per-(ts, query) BOUNDED-HEAP top-k
    * ([[graft.TopKAggregator]] as a hash aggregation: rank windows do not
    * exist on streams, and the heap is the scale-proof form regardless —
    * ≤ k candidates per query cross the shuffle instead of the full probed
    * set) → explode to ranked rows. Ordering is bit-compatible with the
    * batch ranking: the heap orders by (−rnd(score, 9), c_id), exactly the
    * window's `rnd(score, 9) DESC, c_id ASC`; stream-vs-batch agreement is
    * pinned by OpsSpec. State is the in-horizon query stream only — the
    * index is never re-encoded, re-keyed, or held in state. */
  def searchIvfPqStream(queries: DataFrame, index: DataFrame,
                        cents: Array[Array[Double]],
                        books: Array[Array[Array[Double]]],
                        k: Int, nProbe: Int = AnnNProbe,
                        watermark: String = "2 hours"): DataFrame = {
    val c2 = cents.map(selfDot)
    val d = books(0)(0).length
    val lut = array(books.indices.map(mi =>
      array(books(mi).indices.map(c =>
        dotD(slice(col("q_emb"), mi * d + 1, d), lit(books(mi)(c)))): _*)): _*)
    val probes = queries
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("vec_id")
      .select(col("ingest_ts"), col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .select(col("ingest_ts"), col("q_id"), lut.as("lut"),
        explode(slice(array_sort(array(cents.indices.map(i =>
          struct(graft.Num.rnd(lit(c2(i)) - lit(2.0) * dotD(col("q_emb"), lit(cents(i))), 6).as("d2"),
            lit(i).as("cell"))): _*)), 1, nProbe)).as("pc"))
      .select(col("ingest_ts"), col("pc.cell").as("cell"), col("q_id"), col("lut"))
    val scored = probes.join(index, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expr.PqAdcScore(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("lut")),
          org.apache.spark.sql.graftbridge.Bridge.expression(col("codes")))))
    val agg = udaf(new graft.TopKAggregator(k))
    scored
      .groupBy(col("ingest_ts"), col("q_id"))
      .agg(agg(-graft.Num.rnd(col("score"), 9), col("c_id"), col("score"))
        .as("__topk"))
      .select(col("q_id"), posexplode(col("__topk")).as(Seq("__pos", "__cand")))
      .select(col("q_id"), col("__cand.cIdx").as("c_id"),
        (col("__pos") + 1).cast("long").as("rank"),
        graft.Num.rnd(col("__cand.cValue"), 6).as("score"))
  }

  /** Index-staleness drift audit — the MONITOR leg of the ANN index
    * lifecycle (build → ingest → restore → serve → monitor), and the
    * retrain trigger: quantizers frozen at build time slowly stop fitting
    * a drifting embedding stream (new model checkpoints, new domains), and
    * the first observable symptom is rising QUANTIZATION ERROR on the
    * ingested side. For each side — `base` (the population the codebooks
    * were fit on) and `drop` (vectors ingested later against the FROZEN
    * codebooks, the [[encodeIvfPq]]/q133 discipline) — reports the
    * per-vector PQ reconstruction error distribution: n, mean and p95 of
    * err² = Σ_m min_cell ‖v_m − c_{m,cell}‖² (each subspace term rounded
    * 6 dp before the min/sum, so the numbers replay identically in any
    * engine), plus the norm-normalized mean err²/‖v‖². NOTE: this is the
    * OPTIMAL-ASSIGNMENT error — the min is over the rounded FULL d²
    * including the ‖v_m‖² term, while [[pqCodesCol]] picks cells by the
    * rounded (‖c‖² − 2·dot) without it; near a rounding tie the monitored
    * error can belong to a different cell than the one actually encoded.
    * That is the right monitor semantics (it lower-bounds the encoded
    * error and is insensitive to encode tie-break drift), but it is not
    * byte-for-byte "the assigned code's error" (ADVICE r11). A drop row materially above the base row says the
    * frozen codebooks no longer cover the incoming distribution — refit
    * ([[buildIvfPqIndex]]) and re-encode.
    *
    * Plan shape: ONE union scan; the error is a pure per-row map
    * expression over literal centroids (no join, no code relation), then a
    * single 2-group partial-aggregated fold — scan-bound at any corpus
    * size. The fit is the usual sample-capped driver-local Lloyd. */
  def indexDriftReport(base: DataFrame, drop: DataFrame,
                       m: Int = 8, kCents: Int = 16, seed: Long = 42L,
                       fitSampleCap: Long = 65536): DataFrame = {
    val books = pqCodebooks(base, m, kCents, seed, fitSampleCap)
    val d = books(0)(0).length
    def errCol(emb: Column): Column = {
      val terms = books.indices.map { mi =>
        val sub = slice(emb, mi * d + 1, d)
        array_min(array(books(mi).indices.map { c =>
          graft.Num.rnd(
            dotD(sub, sub) + lit(selfDot(books(mi)(c)))
              - lit(2.0) * dotD(sub, lit(books(mi)(c))), 6)
        }: _*))
      }
      // ascending-m left fold of 6 dp-rounded terms: any engine's sum
      // order agrees far inside the final rounding guard
      graft.Num.rnd(terms.reduceLeft(_ + _), 6)
    }
    prep(base, "c_").withColumn("side", lit("base"))
      .unionByName(prep(drop, "c_").withColumn("side", lit("drop")))
      .select(col("side"), errCol(col("c_emb")).as("err2"),
        dotD(col("c_emb"), col("c_emb")).as("__n2"))
      .groupBy("side")
      .agg(count(lit(1)).as("n"),
        graft.Num.rnd(avg(col("err2")), 6).as("mean_err2"),
        graft.Num.rnd(expr("percentile(err2, 0.95)"), 6).as("p95_err2"),
        graft.Num.rnd(avg(col("err2") / col("__n2")), 6).as("mean_rel_err2"))
  }

  /** Per-label centroids of L2-NORMALIZED embeddings — mean pooling over a
    * class/cluster column, the building block for class prototypes,
    * nearest-centroid classification, and diversity-aware sampling.
    * Normalizing BEFORE averaging makes the centroid direction independent
    * of per-vector magnitude (the standard prototype construction for
    * cosine spaces); zero-norm vectors contribute zero. Plan shape:
    * posexplode to (label, pos, component) then ONE partial-aggregated
    * shuffle on (label, pos) — dims × labels output rows, scan-bound at
    * corpus scale. */
  def labelCentroids(corpus: DataFrame, labelCol: String = "label"): DataFrame = {
    corpus.select(col(labelCol).as("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("__n", sqrt(dotD(col("emb"), col("emb"))))
      .select(col("label"),
        posexplode(transform(col("emb"),
          x => when(col("__n") === 0.0, lit(0.0)).otherwise(x / col("__n")))))
      .groupBy(col("label"), (col("pos") + 1).as("pos"))
      .agg(graft.Num.rnd(avg(col("col")), 6).as("centroid"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))
  }

  /** Per-vector symmetric int8 quantization — the storage/serving
    * compression step of an embedding pipeline (4× over float32, 8× over
    * float64). scale = max|v|/127; qᵢ = ⌊vᵢ/scale + 0.5⌋ (explicit
    * floor(+0.5) so the rounding rule is engine-independent — SQL `round`
    * half-away vs Java HALF_UP disagree on negative halves). Zero vectors
    * quantize to all-zeros with scale 0.
    *
    * Output is the quantization AUDIT row per vector: scale, the quantized
    * array's sum/min/max, and the reconstruction MSE via the algebraic
    * expansion Σ(vᵢ−s·qᵢ)²/n = (Σv² − 2s·⟨v,q⟩ + s²Σq²)/n — three
    * sequential folds, no intermediate array materialization. Pure narrow
    * projection: no shuffle, scan-bound, codegen'd higher-order fns. */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val d = corpus.select(col("vec_id"), v.as("v"))
      .withColumn("scale", array_max(transform(col("v"), abs(_))) / 127.0)
      .withColumn("q", transform(col("v"), x =>
        when(col("scale") > 0, floor(x / col("scale") + 0.5).cast("long"))
          .otherwise(0L)))
    val fold = (c: Column) => aggregate(c, lit(0.0), (acc, x) => acc + x)
    val sumSqV = fold(transform(col("v"), x => x * x))
    val dotVQ = fold(zip_with(col("v"), col("q"), (a, b) => a * b.cast("double")))
    val sumSqQ = fold(transform(col("q"), x =>
      x.cast("double") * x.cast("double")))
    d.select(
      col("vec_id"),
      graft.Num.rnd(col("scale"), 9).as("scale"),
      aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
      array_min(col("q")).as("q_min"),
      array_max(col("q")).as("q_max"),
      graft.Num.rnd(
        (sumSqV - lit(2.0) * col("scale") * dotVQ
          + col("scale") * col("scale") * sumSqQ) / size(col("v")), 9)
        .as("mse"))
  }

  /** IVF-style top-k restricted to the query's coarse cell (cellCol). */
  def partitionedTopK(corpus: DataFrame, queries: DataFrame, cellCol: String,
                      k: Int): DataFrame = {
    val cell = (df: DataFrame, p: String) =>
      df.select(col(cellCol).as("cell"), col("vec_id").as(s"${p}id"),
          col("embedding").cast("array<double>").as(s"${p}emb"))
        .withColumn(s"${p}norm", sqrt(dotD(col(s"${p}emb"), col(s"${p}emb"))))
    val joined = cell(corpus, "c_").join(broadcast(cell(queries, "q_")), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", dotD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    ranked(joined, k)
  }
}

/** A built IVF-PQ index handle ([[Similarity.buildIvfPqIndex]]): FROZEN
  * quantizers (coarse centroids + per-subspace PQ codebooks) plus the
  * pinned encoded relation `(c_id, cell, codes)`. This is the deployment
  * shape of a real ANN index: build once, search many times, and when new
  * embeddings arrive daily, [[append]] encodes ONLY the new rows against
  * the frozen quantizers ([[Similarity.encodeIvfPq]] — the
  * [[graft.ops.Dedup.newAgainstIndex]] ingest discipline applied to the
  * embedding modality) and unions them in; the existing index is never
  * re-encoded and the quantizers never refit, so daily ingest costs
  * O(new), not O(corpus). [[unpersist]] releases every relation this
  * handle pinned — the explicit cache-lifecycle contract (VERDICT r10). */
final class AnnIndex private[ops] (
    val cents: Array[Array[Double]],
    val books: Array[Array[Array[Double]]],
    val index: DataFrame,
    pinned: Seq[DataFrame]) {

  /** Ingest new vectors: encode against the FROZEN quantizers, pin the
    * (small, drop-sized) encoded relation, union with the existing index.
    * Returns a NEW handle owning both pins; the plan of any subsequent
    * [[search]] reads the old index from cache and only the new rows'
    * encode runs. */
  def append(newVecs: DataFrame): AnnIndex = {
    val enc = Similarity.encodeIvfPq(newVecs, cents, books)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new AnnIndex(cents, books, index.unionByName(enc), pinned :+ enc)
  }

  /** IVF-PQ search over this index ([[Similarity.searchIvfPq]]). */
  def search(queries: DataFrame, k: Int,
             nProbe: Int = Similarity.AnnNProbe): DataFrame =
    Similarity.searchIvfPq(index, cents, books, queries, k, nProbe)

  /** Online serving: answer a STREAM of queries `(ingest_ts, vec_id,
    * embedding)` against this index ([[Similarity.searchIvfPqStream]]). */
  def searchStream(queries: DataFrame, k: Int,
                   nProbe: Int = Similarity.AnnNProbe,
                   watermark: String = "2 hours"): DataFrame =
    Similarity.searchIvfPqStream(queries, index, cents, books, k, nProbe,
      watermark)

  /** Release every relation this handle (and the handles it was appended
    * from) pinned. The index is unusable afterwards. */
  def unpersist(): Unit = pinned.foreach(_.unpersist())
}
