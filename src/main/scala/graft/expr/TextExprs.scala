package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the text expressions. The Catalyst expressions below
  * compile to single static calls into these loops — versus the built-in
  * composition (`aggregate(split(s,''), …)`, per-bit `aggregate` folds)
  * which evaluates interpreted HigherOrderFunctions per character/bit and
  * dominated the profile (documents pipeline measured 10-20× faster here).
  *
  * Hash contract (shared with the DuckDB oracle twins in
  * [[graft.ops.TextSql]]): 31-base polynomial over Unicode CODE POINTS,
  * mod P = 1e9+7 — identical to
  * `list_reduce(…string_split(s,'')…, unicode(c)…)`.
  */
object TextKernels {
  val P = 1000000007L

  /** Polynomial hash of a string over its code points. */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Hash of the space-joined k-token window starting at `from` — equal to
    * polyHash(tokens.slice(from, from+k).mkString(" ")) without building
    * the string. */
  private def windowHash(tokens: Array[String], from: Int, k: Int): Long = {
    var acc = 0L
    var t = from
    while (t < from + k) {
      val s = tokens(t)
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31 + cp) % P
        i += Character.charCount(cp)
      }
      if (t != from + k - 1) acc = (acc * 31 + ' '.toInt) % P
      t += 1
    }
    acc
  }

  /** Distinct k-shingle hashes of a token array (order of first
    * appearance — consumers are set/min operations). */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return ArrayData.toArrayData(Array.empty[Long])
    val strs = new Array[String](n)
    var i = 0
    while (i < n) {
      strs(i) = if (tokens.isNullAt(i)) "" else tokens.getUTF8String(i).toString
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= n - k) {
      seen.add(windowHash(strs, i, k))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    ArrayData.toArrayData(out)
  }

  /** Σ over unigram+bigram feature grams of `weights[polyHash(gram) mod
    * dim]` — the hashed-n-gram linear-model logit numerator
    * ([[graft.ops.TextAnalysis.modelQualityScore]]) as ONE JVM loop.
    * Addition order is unigrams left-to-right THEN bigrams left-to-right:
    * exactly the left fold of the oracle twin (and of the HOF composition
    * this replaces, which paid an interpreted lambda + element_at per gram
    * — measured 81 s single-task on a 5.5k-doc scan vs milliseconds here).
    * Bigram hashes fold token, ' ', token without building the joined
    * string ([[windowHash]]). */
  def ngramWeightSum(tokens: ArrayData, weights: Array[Double], dim: Int): Double = {
    val n = tokens.numElements()
    val strs = new Array[String](n)
    var i = 0
    while (i < n) {
      strs(i) = if (tokens.isNullAt(i)) "" else tokens.getUTF8String(i).toString
      i += 1
    }
    var sum = 0.0
    i = 0
    while (i < n) {
      sum += weights((windowHash(strs, i, 1) % dim).toInt)
      i += 1
    }
    i = 0
    while (i < n - 1) {
      sum += weights((windowHash(strs, i, 2) % dim).toInt)
      i += 1
    }
    sum
  }

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokenize: the non-empty elements of `text.split("\\s+",
    * -1)` — bit-identical to the Column composition `filter(split(text,
    * "\\s+"), t => t =!= "")` (Spark's StringSplit delegates to
    * `String.split(regex, -1)`, i.e. the same java.util.regex Pattern
    * semantics as this kernel), but the empty-token filter runs inside the
    * same JVM pass instead of an interpreted ArrayFilter lambda per token
    * per document — the tokenize step of EVERY text query. */
  def tokensOf(text: UTF8String): ArrayData = {
    val parts = Whitespace.split(text.toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) n += 1
      i += 1
    }
    val out = new Array[AnyRef](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) {
        out(j) = UTF8String.fromString(parts(i))
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-code-point character symbols of a word — BPE's layer-0
    * segmentation, fused (replaces `transform(sequence(1, length(w)), i =>
    * w.substr(i, 1))`, an interpreted lambda + substr per character per
    * word). Identical for any non-empty word (the only callers feed
    * non-empty tokens); "" yields the empty array. */
  def charSymbols(w: UTF8String): ArrayData = {
    val str = w.toString
    val n = str.codePointCount(0, str.length)
    val out = new Array[AnyRef](n)
    var i = 0
    var j = 0
    while (j < n) {
      val cp = str.codePointAt(i)
      out(j) = UTF8String.fromString(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Apply a sequence of BPE merges to a symbol array, each one
    * LEFTMOST-GREEDILY in a single left-to-right pass — bit-identical to
    * the `aggregate` HOF fold it replaces ([[graft.ops.TextAnalysis
    * .bpeMergeExpr]]): position j merges into the output's last symbol
    * exactly when that last symbol equals lhs(m) and the incoming one
    * equals rhs(m), which reproduces sequential scanning including the
    * lhs==rhs overlapping-run case ("a a a a" + (a,a) → [aa, aa], because
    * the first merge's output no longer equals "a"). One JVM loop per
    * merge over the word's symbols — versus one interpreted
    * HigherOrderFunction evaluation per SYMBOL per merge (array slice +
    * concat allocations per step). Null symbols (impossible from
    * [[graft.ops.TextAnalysis.charSyms]], possible in a hand-built array)
    * pass through unmerged, like the fold's null-comparison `otherwise`
    * branch. */
  def bpeMergeAll(syms: ArrayData, lhs: Array[UTF8String],
                  rhs: Array[UTF8String],
                  merged: Array[UTF8String]): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[UTF8String](n)
    var len = n
    var i = 0
    while (i < n) {
      cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      i += 1
    }
    var m = 0
    while (m < lhs.length) {
      val a = lhs(m); val b = rhs(m); val ab = merged(m)
      var out = 0
      var j = 0
      while (j < len) {
        val x = cur(j)
        if (out > 0 && x != null && cur(out - 1) != null &&
            cur(out - 1).equals(a) && x.equals(b))
          cur(out - 1) = ab
        else { cur(out) = x; out += 1 }
        j += 1
      }
      len = out
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(cur.asInstanceOf[Array[AnyRef]], len))
  }

  /** Adjacent (l, r) symbol pairs of a word — the BPE trainer's pair
    * relation, one struct row per adjacent position, as a single JVM pass
    * (replaces `transform(sequence(0, n−2), i => struct(element_at(…)))`,
    * an interpreted lambda + two element_at per position per word per
    * iteration). n < 2 yields the empty array, like the `when` guard. */
  def bpeAdjacentPairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        if (syms.isNullAt(i)) null else syms.getUTF8String(i),
        if (syms.isNullAt(i + 1)) null else syms.getUTF8String(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count of tokens that appear in a small marker set — the stopword-hit
    * counter of [[graft.ops.TextAnalysis.qualityScore]]/langId, fused
    * (replaces `size(filter(toks, t => array_contains(markers, t)))`, an
    * interpreted lambda + literal-array scan per token per document in
    * every quality/language computation). Null tokens don't count, exactly
    * like the filter's null-condition drop. Marker lists are ≤ 8 entries;
    * a linear probe beats set construction at that size. */
  def markerHits(toks: ArrayData, markers: Array[UTF8String]): Int = {
    val n = toks.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        while (j < markers.length) {
          if (t.equals(markers(j))) { cnt += 1; j = markers.length }
          else j += 1
        }
      }
      i += 1
    }
    cnt
  }

  /** 30-bit SimHash over a hash array: bit j set iff Σ over hashes of
    * (2·bit_j − 1) is positive. */
  def simHashBits(hashes: ArrayData): Long = {
    val counts = new Array[Int](30)
    var i = 0
    while (i < hashes.numElements()) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < 30) {
        counts(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < 30) {
      if (counts(j) > 0) v |= (1L << j)
      j += 1
    }
    v
  }
}

/** polyhash(string) → long, codegen'd as one static call. */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"poly_hash expects string, got ${t.sql}")
  }
  override def nullSafeEval(s: Any): Any =
    TextKernels.polyHash(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.polyHash($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
  override def prettyName: String = "poly_hash"
}

/** shingle_hashes(array<string>, k) → array<long> (distinct). */
case class TokenShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got ${t.sql}")
  }
  override def nullSafeEval(ts: Any): Any =
    TextKernels.shingleHashes(ts.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.shingleHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): TokenShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** ngram_weight_sum(array<string>, frozen weights, dim) → double: the
  * hashed unigram+bigram linear-model logit numerator in one codegen'd
  * static call. Weights ride as a Seq (value equality keeps plan
  * canonicalization sound) and reach generated code via addReferenceObj. */
case class NgramWeightSum(child: Expression, weights: Seq[Double], dim: Int)
    extends UnaryExpression {
  require(dim >= 1 && weights.size == dim,
    s"ngram_weight_sum needs |weights| == dim >= 1, got ${weights.size}/$dim")
  @transient private lazy val warr: Array[Double] = weights.toArray
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ngram_weight_sum expects array<string>, got ${t.sql}")
  }
  override def nullSafeEval(ts: Any): Any =
    TextKernels.ngramWeightSum(ts.asInstanceOf[ArrayData], warr, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramWeights", warr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.ngramWeightSum($c, $ref, $dim)")
  }
  override protected def withNewChildInternal(newChild: Expression): NgramWeightSum =
    copy(child = newChild)
  override def prettyName: String = "ngram_weight_sum"
}

/** marker_hits(array<string>) → int: marker-set membership count. */
case class MarkerHits(child: Expression, markers: Seq[String])
    extends UnaryExpression {
  require(markers.nonEmpty, "marker_hits needs at least one marker")
  @transient private lazy val mArr: Array[UTF8String] =
    markers.map(UTF8String.fromString).toArray
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"marker_hits expects array<string>, got ${t.sql}")
  }
  override def nullSafeEval(ts: Any): Any =
    TextKernels.markerHits(ts.asInstanceOf[ArrayData], mArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markers", mArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.markerHits($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): MarkerHits =
    copy(child = newChild)
  override def prettyName: String = "marker_hits"
}

/** tokens_of(string) → array<string>: whitespace tokenize, empties dropped,
  * in one codegen'd call. */
case class TokensOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tokens_of expects string, got ${t.sql}")
  }
  override def nullSafeEval(s: Any): Any =
    TextKernels.tokensOf(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.tokensOf($c)")
  override protected def withNewChildInternal(newChild: Expression): TokensOf =
    copy(child = newChild)
  override def prettyName: String = "tokens_of"
}

/** char_symbols(string) → array<string>: per-code-point symbols.
  * Precondition: non-empty input. Only there does it equal the
  * `transform(sequence(1, length(w)), i => w.substr(i, 1))` it replaces;
  * on "" it yields [] where that composition yields ["", ""]. */
case class CharSymbols(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_symbols expects string, got ${t.sql}")
  }
  override def nullSafeEval(s: Any): Any =
    TextKernels.charSymbols(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.charSymbols($c)")
  override protected def withNewChildInternal(newChild: Expression): CharSymbols =
    copy(child = newChild)
  override def prettyName: String = "char_symbols"
}

/** bpe_merge_all(array<string>) → array<string>: apply the merge table in
  * order, each merge leftmost-greedily, in one codegen'd call. Merges ride
  * as Seq[String] fields (value equality keeps plan canonicalization
  * sound) and reach generated code via addReferenceObj as UTF8String
  * arrays, so the hot loop never re-encodes the literals. */
case class BpeMergeAll(child: Expression, lhs: Seq[String], rhs: Seq[String])
    extends UnaryExpression {
  require(lhs.length == rhs.length && lhs.nonEmpty,
    s"bpe_merge_all needs aligned non-empty merge sides, got " +
      s"${lhs.length}/${rhs.length}")
  @transient private lazy val lhsArr: Array[UTF8String] =
    lhs.map(UTF8String.fromString).toArray
  @transient private lazy val rhsArr: Array[UTF8String] =
    rhs.map(UTF8String.fromString).toArray
  @transient private lazy val mergedArr: Array[UTF8String] =
    lhs.lazyZip(rhs).map((a, b) => UTF8String.fromString(a + b)).toArray
  override def dataType: DataType = ArrayType(StringType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge_all expects array<string>, got ${t.sql}")
  }
  override def nullSafeEval(syms: Any): Any =
    TextKernels.bpeMergeAll(syms.asInstanceOf[ArrayData], lhsArr, rhsArr,
      mergedArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = "org.apache.spark.unsafe.types.UTF8String[]"
    val l = ctx.addReferenceObj("bpeLhs", lhsArr, cls)
    val r = ctx.addReferenceObj("bpeRhs", rhsArr, cls)
    val m = ctx.addReferenceObj("bpeMerged", mergedArr, cls)
    defineCodeGen(ctx, ev,
      c => s"graft.expr.TextKernels.bpeMergeAll($c, $l, $r, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMergeAll =
    copy(child = newChild)
  override def prettyName: String = "bpe_merge_all"
}

/** bpe_adjacent_pairs(array<string>) → array<struct<l:string,r:string>>:
  * the trainer's adjacent-pair relation in one codegen'd call. */
case class BpeAdjacentPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", StringType), StructField("r", StringType))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_adjacent_pairs expects array<string>, got ${t.sql}")
  }
  override def nullSafeEval(syms: Any): Any =
    TextKernels.bpeAdjacentPairs(syms.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.bpeAdjacentPairs($c)")
  override protected def withNewChildInternal(newChild: Expression): BpeAdjacentPairs =
    copy(child = newChild)
  override def prettyName: String = "bpe_adjacent_pairs"
}

/** simhash30(array<long>) → long. */
case class SimHash30(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash30 expects array<long>, got ${t.sql}")
  }
  override def nullSafeEval(hs: Any): Any =
    TextKernels.simHashBits(hs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.simHashBits($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash30 =
    copy(child = newChild)
  override def prettyName: String = "simhash30"
}
