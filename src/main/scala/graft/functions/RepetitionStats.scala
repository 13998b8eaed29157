package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass intra-document repetition counters for the quality-filter
  * query `text_repetition`: struct(n_tokens, top_unigram_count,
  * top_bigram_count, n_trigrams, n_dup_trigrams).
  *
  * The metrics are the token-level analogue of the Gopher/MassiveText
  * repetition filters (top n-gram fraction, duplicate n-gram fraction):
  * a document dominated by one repeated phrase is low-quality training
  * data even when its token stats look normal. The corpus here has no
  * line structure (single-line docs), so the line-based variants are
  * deliberately absent — n-gram repetition is the signal that exists.
  *
  * Why a custom Expression: the composed HOF form needs three
  * grouped-count passes per document (unigram, bigram, trigram), each
  * materializing an n-gram array and a distinct array. This is ONE
  * fused loop over the token stream with two small open-addressing
  * count maps; called from generated code like [[TokenStats]].
  * Tokenization is the shared [[Shingles.tokenize]] (regex \s+
  * equivalent), so DuckDB oracles written against
  * string_split_regex(text, '\s+') agree exactly.
  */
object RepetitionStats {

  /** Raw counters; the query derives the rounded fractions so the
    * round-to-6dp contract stays in the one place the oracles already
    * mirror (Spark `round` ≡ DuckDB `round` as used by text_stats).
    */
  def compute(s: UTF8String): InternalRow = {
    val toks = Shingles.tokenize(s)
    val n = toks.size
    // unigram + bigram top counts: string-keyed maps; trigram duplicate
    // occurrences: hash every trigram (space-joined, like shingleHashes)
    // and count occurrences per value — an occurrence is "duplicate" if
    // its value appears >= 2 times (ALL occurrences in the group count,
    // matching the oracle's list-comprehension formulation).
    val uni = new java.util.HashMap[String, Int]()
    val bi = new java.util.HashMap[String, Int]()
    val tri = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < n) {
      uni.merge(toks.get(i), 1, Integer.sum _)
      if (i + 1 < n) bi.merge(toks.get(i) + " " + toks.get(i + 1), 1, Integer.sum _)
      if (i + 2 < n)
        tri.merge(toks.get(i) + " " + toks.get(i + 1) + " " + toks.get(i + 2), 1, Integer.sum _)
      i += 1
    }
    def maxCount(m: java.util.HashMap[String, Int]): Long = {
      var mx = 0
      val it = m.values().iterator()
      while (it.hasNext) { val v = it.next(); if (v > mx) mx = v }
      mx.toLong
    }
    var dupTri = 0L
    val it = tri.values().iterator()
    while (it.hasNext) { val v = it.next(); if (v >= 2) dupTri += v }
    InternalRow(n.toLong, maxCount(uni), maxCount(bi),
      math.max(0, n - 2).toLong, dupTri)
  }

  val structType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("top_unigram_count", LongType, nullable = false),
    StructField("top_bigram_count", LongType, nullable = false),
    StructField("n_trigrams", LongType, nullable = false),
    StructField("n_dup_trigrams", LongType, nullable = false)))

  def repetitionStats(text: Column): Column =
    column(RepetitionStatsExpr(expression(text)))
}

case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects a string input, got ${child.dataType}")
  override def dataType: DataType = RepetitionStats.structType
  override def nullSafeEval(v: Any): Any = RepetitionStats.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.compute($c)")
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr = copy(child = c)
}
