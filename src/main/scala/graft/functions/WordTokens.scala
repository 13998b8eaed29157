package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word-count tokenizer with the reference wc_maple's sanitize
  * semantics (mje/src/wc_maple.cpp:10-21): the words of
  * `filter(split(regexp_replace(text, "[^0-9a-zA-Z\\s]", ""), "\\s+"), _ != "")`.
  *
  * Why a custom Expression: the composed form runs two regex passes per
  * document (decode to a java String, build the sanitized string, split
  * it, encode every token back), then a filter over the token array.
  * This kernel is ONE pass over the UTF-8 bytes, called from generated
  * code; it builds no java String, no sanitized intermediate and no
  * regex matcher, and emits only the surviving words.
  *
  * Byte-level equivalence. The regex's classes are all ASCII: Java's
  * `\s` (without UNICODE_CHARACTER_CLASS) is exactly
  * [ \t\n\u000B\f\r], and the ranges 0-9a-zA-Z are ASCII. UTF-8 encodes
  * every ASCII char as its own single byte and every other code point
  * (surrogate pairs and malformed bytes, which decode to U+FFFD,
  * included) as bytes ≥ 0x80 only. So classifying each byte alone is
  * the char-level classification: an alphanumeric byte extends the
  * current word, a whitespace byte ends it, and every other byte —
  * every byte of a non-ASCII code point — is dropped, as the regex
  * drops the whole code point. Dropping never creates or removes a
  * whitespace boundary, and the empty words `split` yields (leading
  * whitespace, a token that sanitizes to "", empty text) are never
  * emitted, which is what the `!= ""` filter removed.
  */
object WordTokens {

  // byte class per unsigned byte value: 0 = drop, 1 = word, 2 = separator
  private val Word: Byte = 1
  private val Sep: Byte = 2
  private val classes: Array[Byte] = {
    val c = new Array[Byte](256)
    for (b <- '0' to '9') c(b) = Word
    for (b <- 'a' to 'z') c(b) = Word
    for (b <- 'A' to 'Z') c(b) = Word
    for (b <- " \t\n\u000B\f\r") c(b) = Sep
    c
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def tokenize(s: UTF8String): GenericArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var buf = new Array[Byte](math.min(n, 32))
    var len = 0
    var out = new Array[AnyRef](8)
    var nOut = 0
    var b: Byte = 0
    var i = 0
    while (i <= n) {
      // i == n is a virtual trailing separator that flushes the last word
      val cls =
        if (i == n) Sep
        else { b = Platform.getByte(base, off + i); classes(b & 0xff) }
      if (cls == Word) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        buf(len) = b
        len += 1
      } else if (cls == Sep && len > 0) {
        if (nOut == out.length) out = java.util.Arrays.copyOf(out, nOut * 2)
        out(nOut) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
        nOut += 1
        len = 0
      }
      i += 1
    }
    val words = if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut)
    new GenericArrayData(words.asInstanceOf[Array[Any]])
  }

  val Name = "graft_wc_tokens"

  def wordTokens(text: Column): Column = column(WordTokensExpr(expression(text)))
}

/** array<string> of a string's wc_maple-sanitized words; null for null. */
case class WordTokensExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${WordTokens.Name} expects a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = WordTokens.Name
  override def nullSafeEval(v: Any): Any = WordTokens.tokenize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordTokens.tokenize($c)")
  override protected def withNewChildInternal(c: Expression): WordTokensExpr = copy(child = c)
}
