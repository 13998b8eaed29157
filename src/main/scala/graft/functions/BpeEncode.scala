package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass BPE application state: the learned merge table in rank
  * order, compiled once per executor into a pair→ranks hash map, plus a
  * per-thread word→tokens memo. This is the production-tokenizer shape
  * (VERDICT r6 #3): encoding cost depends on WORD length and the number
  * of merges that actually FIRE in the word — never on |merges| — so a
  * 50k-merge vocabulary costs the same per doc as a 24-merge one.
  *
  * Semantics are EXACTLY [[graft.operators.Bpe.applyMerges]]'s replace
  * chain ("for each rank in increasing order, merge all occurrences of
  * that rank's pair left-to-right, non-overlapping"), reproduced
  * event-driven instead of scan-per-rank:
  *
  *  - a min-heap holds candidate ranks; initially, for every adjacent
  *    symbol pair of the word, the pair's smallest learned rank;
  *  - popping rank r runs ONE left-to-right non-overlapping merge pass
  *    for that rank's pair (a pass eliminates every occurrence: a merge
  *    result `lr` can never equal `l` or `r`, so no new occurrence of
  *    the same pair forms mid-pass);
  *  - after a pass that merged anything, each adjacency of the NEW
  *    symbol sequence offers its smallest rank STRICTLY GREATER than r
  *    — exactly the ranks the serial chain still has ahead of it. Ranks
  *    ≤ r are never offered (the chain already passed them), which is
  *    what makes this faithful to the chain even when the same pair was
  *    learned at two ranks (possible across training rounds via result
  *    collisions) or when a merge creates an occurrence of an
  *    EARLIER-ranked pair: the chain would not go back, and neither do
  *    we. Pops are therefore monotone non-decreasing, each rank is
  *    processed at most once, and termination is structural.
  *
  * A word's encoding is deterministic given the table, so results memo
  * per thread (no contention at local[32]; bounded LRU — Zipf word
  * frequencies make the hit rate the common case at corpus scale).
  */
final class BpeCodec(left: Array[String], right: Array[String]) extends Serializable {
  require(left.length == right.length, "merge table arrays must align")

  // NUL separator via the \u escape (a raw byte here makes git treat the
  // file as binary); collision-safe because tokens come from whitespace-
  // split text, which never contains NUL
  private def key(l: String, r: String): String = l + "\u0000" + r

  // pair key -> learned ranks, ascending (nearly always length 1; a
  // result collision across training rounds can learn a pair twice)
  @transient private lazy val ranks: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](left.length * 2)
    var i = 0
    while (i < left.length) {
      val k = key(left(i), right(i))
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(i) else prev :+ i)
      i += 1
    }
    m
  }

  private val CacheCap = 1 << 14
  @transient private lazy val cache: ThreadLocal[java.util.LinkedHashMap[String, Array[UTF8String]]] =
    ThreadLocal.withInitial { () =>
      new java.util.LinkedHashMap[String, Array[UTF8String]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[UTF8String]]): Boolean = size() > CacheCap
      }
    }

  /** Smallest rank of (l, r) strictly greater than `after`, or -1. */
  private def nextRank(l: String, r: String, after: Int): Int = {
    val rs = ranks.get(key(l, r))
    if (rs == null) return -1
    var i = 0
    while (i < rs.length && rs(i) <= after) i += 1
    if (i < rs.length) rs(i) else -1
  }

  private[graft] def encodeWord(word: String): Array[UTF8String] = {
    // the EXACT symbol alphabet of the pinned reference: Java's
    // split("") — per UTF-16 code unit (BpeSpec witnesses this even
    // splits surrogate pairs, matching `applyMerges` symbol-for-symbol;
    // the trainer's sanitized corpus never reaches that edge)
    val parts = word.split("")
    var syms = new java.util.ArrayList[String](parts.length + 1)
    var cp = 0
    while (cp < parts.length) { syms.add(parts(cp)); cp += 1 }
    syms.add(graft.operators.Bpe.EndWordMarker)
    val heap = new java.util.PriorityQueue[Integer]
    val pushed = new java.util.HashSet[Integer]
    def offer(l: String, r: String, after: Int): Unit = {
      val rk = nextRank(l, r, after)
      if (rk >= 0 && pushed.add(rk)) heap.add(rk)
    }
    var i = 0
    while (i < syms.size - 1) { offer(syms.get(i), syms.get(i + 1), -1); i += 1 }
    while (!heap.isEmpty) {
      val rk = heap.poll().intValue()
      val l = left(rk); val r = right(rk); val merged = l + r
      val out = new java.util.ArrayList[String](syms.size)
      var j = 0
      var mergedAny = false
      while (j < syms.size) {
        if (j < syms.size - 1 && syms.get(j) == l && syms.get(j + 1) == r) {
          out.add(merged); j += 2; mergedAny = true
        } else { out.add(syms.get(j)); j += 1 }
      }
      if (mergedAny) {
        syms = out
        var k = 0
        while (k < syms.size - 1) { offer(syms.get(k), syms.get(k + 1), rk); k += 1 }
      }
    }
    val toks = new Array[UTF8String](syms.size)
    var t = 0
    while (t < toks.length) { toks(t) = UTF8String.fromString(syms.get(t)); t += 1 }
    toks
  }

  /** Whole-doc encode: whitespace words, each through the (memoized)
    * per-word merge application, concatenated — the relation
    * [[graft.operators.Bpe.tokenize]] used to build with |merges|
    * chained replaces.
    */
  def encode(text: UTF8String): ArrayData = {
    val words = text.toString.split("\\s+")
    val memo = cache.get()
    val out = new java.util.ArrayList[UTF8String](words.length * 4)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        var toks = memo.get(w)
        if (toks == null) { toks = encodeWord(w); memo.put(w, toks) }
        var j = 0
        while (j < toks.length) { out.add(toks(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}

object BpeCodec {
  /** Compile a merge table (rank-ordered) into codec form. */
  def apply(merges: Seq[graft.operators.Bpe.Merge]): BpeCodec = {
    val sorted = merges.sortBy(_.rank)
    new BpeCodec(sorted.map(_.left).toArray, sorted.map(_.right).toArray)
  }
}

/** Native `bpe_encode(text)` — tokenize a document with a broadcast
  * merge table in one generated-loop call per row.
  *
  * Why a custom Catalyst Expression: the replace-chain formulation this
  * replaces was |merges| sequential codegen'd scans of every doc's
  * shape string — fine at 24 merges, unusable at a production 50k-merge
  * vocabulary (50k scans per doc and a generated method far past JVM
  * limits). Here the merge table ships ONCE per executor as a
  * `Broadcast[BpeCodec]` (not per task in the serialized plan), the
  * expression stays inside whole-stage codegen, and per-row work is the
  * single-pass priority-merge encode.
  */
case class BpeEncodeExpr(child: Expression, codec: Broadcast[BpeCodec])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"bpe_encode expects string, got $other")
  }
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "graft_bpe_encode"

  @transient private lazy val c: BpeCodec = codec.value

  override def nullSafeEval(text: Any): Any = c.encode(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[Broadcast[_]].getName
    val cCls = classOf[BpeCodec].getName
    val bcRef = ctx.addReferenceObj("bpeBc", codec, bcCls)
    // fetched once per operator instance, not per row
    val cVar = ctx.addMutableState(cCls, "bpeCodec")
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |if ($cVar == null) $cVar = ($cCls) $bcRef.value();
         |${ev.value} = $cVar.encode($in);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

object BpeEncode {

  /** Column API: `tokens(text, codecBc)`; the Column carries the codec's
    * broadcast inside its [[BpeEncodeExpr]] node, like
    * [[BloomProbe.anyContain]].
    */
  def tokens(text: Column, codec: Broadcast[BpeCodec]): Column =
    column(BpeEncodeExpr(expression(text), codec))
}
