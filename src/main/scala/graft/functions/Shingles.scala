package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text → hash-set expressions for the dedup pipeline.
  *
  * Why custom Expressions: the `functions._` formulation of word
  * shingling (filter(split) → transform(sequence, concat_ws) →
  * array_distinct → transform(xxhash64)) is five interpreted
  * higher-order passes that materialize a token array, a shingle-string
  * array, and a distinct array per document. On a 100 TB text scan that
  * per-document interpreter overhead dominates the actual work. Each
  * expression here is ONE fused JVM loop over the string, called from
  * generated code, producing exactly the values the composed form
  * produced (same whitespace split as regex \s+, same space-joined
  * shingle bytes, same xxhash64 seed-42 as the builtin).
  */
object Shingles {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace tokens of `s` (empties dropped) — the tokenizer every
    * native text expression that keeps tokens VERBATIM shares
    * ([[TokenStats]] included), so the \s+-equivalence invariant lives
    * in exactly one place. Returns java Strings: consumers that need
    * hashing parity convert the individual token (one conversion),
    * instead of every token paying an encode AND a decode.
    *
    * Word count's sanitizing tokenizer is a separate kernel,
    * [[WordTokens]]: it also deletes every byte outside [0-9a-zA-Z\s],
    * so its words are not these tokens (a token that sanitizes to "" is
    * dropped, "don't" becomes "dont"), and it works on the UTF-8 bytes
    * and returns UTF8Strings, because its consumer groups the words and
    * never needs a java String.
    */
  private[functions] def tokenize(s: UTF8String): java.util.ArrayList[String] = {
    val str = s.toString
    val out = new java.util.ArrayList[String]()
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(str.charAt(i))) i += 1
      if (i > start) out.add(str.substring(start, i))
    }
    out
  }

  /** Distinct xxhash64(seed 42) values of the space-joined word n-grams
    * of `s`, in first-occurrence order. Equals the composed
    * array_distinct(transform(...xxhash64(concat_ws(" ", ...)))) result
    * (modulo 64-bit hash collisions, which that form inherits too once
    * pairs are joined on the hash).
    */
  def shingleHashes(s: UTF8String, n: Int): GenericArrayData = {
    val toks = tokenize(s)
    val count = toks.size - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(i + k))
        k += 1
      }
      seen.add(XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L))
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(arr)
  }

  /** ALL xxhash64(seed 42) values of the space-joined word n-grams of
    * `s`, in text order, duplicates KEPT — the positioned variant of
    * [[shingleHashes]]: element i is the hash of the n-gram starting at
    * token i, so `posexplode` recovers (token position, anchor hash)
    * pairs. Needed by span-level dedup, where a repeated n-gram INSIDE
    * one document is signal, not noise, and positions locate the span.
    */
  def shingleHashSeq(s: UTF8String, n: Int): GenericArrayData = {
    val toks = tokenize(s)
    val count = toks.size - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val arr = new Array[Any](count)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(i + k))
        k += 1
      }
      arr(i) = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** MinHash signature of a shingle-hash set in ONE fused loop:
    * m_i = min over shingles s of (h1(s) + i·h2(s)), the Broder-style
    * two-hash affine permutation family. Values are BIT-IDENTICAL to
    * the explode + 128-grouped-min formulation this replaces
    * (h1 = s as double; h2 = xxhash64(s, 1) as double, reproduced via
    * the builtin's exact fold: hashInt(1, hashLong(s, 42)); per-perm
    * candidate computed as the same one-mult-one-add) — DedupSpec pins
    * the equality against the relational twin. The payoff is the SHAPE:
    * signatures become pure map work over the scan — no explode of
    * |shingles| rows, no hash-agg buffers, no shuffle of |docs|×128
    * partial mins. Returns null for an empty shingle set (the grouped
    * form emits no row; downstream explodes drop null identically).
    */
  def minhashSig(shingles: org.apache.spark.sql.catalyst.util.ArrayData,
                 numPerms: Int): GenericArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(numPerms)(Double.PositiveInfinity)
    var seen = false
    var j = 0
    while (j < n) {
      // SKIP null slots, matching the relational twin: a null shingle's
      // h1/h2 are null, and min() ignores nulls — reading it as 0 would
      // inject a phantom shingle into every permutation
      if (!shingles.isNullAt(j)) {
        seen = true
        val s = shingles.getLong(j)
        val h1 = s.toDouble
        val h2 = XXH64.hashInt(1, XXH64.hashLong(s, 42L)).toDouble
        var i = 0
        while (i < numPerms) {
          val c = h1 + i.toDouble * h2
          if (c < mins(i)) mins(i) = c
          i += 1
        }
      }
      j += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }

  /** 64-bit SimHash of the token multiset of `s`: bit i set iff
    * Σ_tokens (bit i of xxhash64(token) ? +1 : -1) > 0. Token hashes are
    * bit-identical to the builtin xxhash64(token), so this scalar equals
    * the explode + [[SimHashAgg]] formulation — without the explode, the
    * shuffle, or the aggregation: a pure map over the scan.
    */
  def simhash(s: UTF8String): Long = {
    val toks = tokenize(s)
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.size) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(toks.get(t)), 42L)
      var i = 0
      while (i < 64) { counts(i) += ((((h >>> i) & 1L).toInt) << 1) - 1; i += 1 }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }
}

/** array<long> of distinct word-n-gram shingle hashes of a string. */
case class ShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Shingles.shingleHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
}

/** array<long> of ALL word-n-gram shingle hashes in text order
  * (positions preserved, duplicates kept).
  */
case class ShingleHashSeqExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hash_seq expects a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Shingles.shingleHashSeq(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.shingleHashSeq($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashSeqExpr = copy(child = c)
}

/** array<double> MinHash signature (numPerms mins) of an array<long>
  * shingle-hash set; null on an empty set.
  */
case class MinHashSigExpr(child: Expression, numPerms: Int) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects array<bigint>, got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  // the kernel returns null for an empty set even on non-null input
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Shingles.minhashSig(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numPerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // defineCodeGen assumes non-null output from non-null input; the
    // empty-set null needs the explicit form
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.Shingles.minhashSig($c, $numPerms);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
}

/** Scalar 64-bit SimHash of a string's whitespace tokens. */
case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash expects a string input, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Shingles.simhash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}

object ShingleFunctions {
  import org.apache.spark.sql.catalyst.expressions.IntegerLiteral

  val ShingleName = "graft_shingle_hashes"
  val ShingleSeqName = "graft_shingle_hash_seq"
  val SimHashName = "graft_simhash"
  val MinHashName = "graft_minhash_sig"

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      ShingleName, exprs => exprs(1) match {
        case IntegerLiteral(n) => ShingleHashesExpr(exprs(0), n)
        case other => throw new IllegalArgumentException(
          s"$ShingleName n must be an integer literal, got $other")
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      ShingleSeqName, exprs => exprs(1) match {
        case IntegerLiteral(n) => ShingleHashSeqExpr(exprs(0), n)
        case other => throw new IllegalArgumentException(
          s"$ShingleSeqName n must be an integer literal, got $other")
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      SimHashName, exprs => SimHashExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      MinHashName, exprs => exprs(1) match {
        case IntegerLiteral(p) => MinHashSigExpr(exprs(0), p)
        case other => throw new IllegalArgumentException(
          s"$MinHashName numPerms must be an integer literal, got $other")
      }, "scala_udf")
  }

  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      ShingleName, text, org.apache.spark.sql.functions.lit(n))

  def shingleHashSeq(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      ShingleSeqName, text, org.apache.spark.sql.functions.lit(n))

  def simhash(text: Column): Column =
    org.apache.spark.sql.functions.call_function(SimHashName, text)

  def minhashSig(shingles: Column, numPerms: Int): Column =
    org.apache.spark.sql.functions.call_function(
      MinHashName, shingles, org.apache.spark.sql.functions.lit(numPerms))
}
