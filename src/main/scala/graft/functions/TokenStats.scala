package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token statistics for the text-analysis queries:
  * struct(n_tokens, n_nonws_chars, en_hits, es_hits, de_hits, fr_hits).
  *
  * Why a custom Expression: the composed form evaluates
  * size(filter(split(text))) once per derived column and each stopword
  * ratio is an interpreted `isin` lambda over every token — five HOF
  * passes per document across text_stats/text_langid. This is ONE fused
  * loop producing every statistic the §2.5 queries need; the semantics
  * (regex \s+ split, exact stoplist membership, non-whitespace char
  * count) are identical, so the DuckDB oracles are unchanged.
  */
object TokenStats {

  private val stopSets: Array[java.util.HashSet[String]] =
    Array(TextFunctions.stopEn, TextFunctions.stopEs,
      TextFunctions.stopDe, TextFunctions.stopFr).map { words =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }

  def compute(s: UTF8String): InternalRow = {
    val toks = Shingles.tokenize(s) // the one shared \s+-equivalent tokenizer
    var nTokens = 0L
    var nonWs = 0L
    val hits = new Array[Long](4)
    var i = 0
    while (i < toks.size) {
      val tok = toks.get(i)
      nTokens += 1
      nonWs += tok.codePointCount(0, tok.length)
      var l = 0
      while (l < 4) { if (stopSets(l).contains(tok)) hits(l) += 1; l += 1 }
      i += 1
    }
    InternalRow(nTokens, nonWs, hits(0), hits(1), hits(2), hits(3))
  }

  val structType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_nonws_chars", LongType, nullable = false),
    StructField("en_hits", LongType, nullable = false),
    StructField("es_hits", LongType, nullable = false),
    StructField("de_hits", LongType, nullable = false),
    StructField("fr_hits", LongType, nullable = false)))

  def tokenStats(text: Column): Column = column(TokenStatsExpr(expression(text)))
}

case class TokenStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"token_stats expects a string input, got ${child.dataType}")
  override def dataType: DataType = TokenStats.structType
  override def nullSafeEval(v: Any): Any = TokenStats.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenStats.compute($c)")
  override protected def withNewChildInternal(c: Expression): TokenStatsExpr = copy(child = c)
}
