package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. The same (spec, seed) always yields the same
  * rows, and the generator derives the expected answers (word counts,
  * grep matches, key statistics) from the rows it emits, so the checks
  * never ask the program under test for its own truth.
  *
  * The knobs are the input properties graft's cost depends on: document
  * count, tokens per document, vocabulary size, Zipf skew of the token
  * and key distributions, the share of exact and near duplicates, and
  * the language/source mix.
  */
final case class CorpusSpec(
    docs: Int,
    tokensPerDoc: Int,
    vocab: Int,
    zipfS: Double,
    exactDupShare: Double,
    nearDupShare: Double,
    nearDupEdits: Int,
    langWeights: Seq[(String, Double)],
    sources: Int,
    punctShare: Double) {
  def scaled(f: Double): CorpusSpec =
    copy(docs = math.max(50, (docs * f).toInt), vocab = math.max(200, (vocab * f).toInt))
}

final case class KvSpec(rows: Int, keys: Int, zipfS: Double) {
  def scaled(f: Double): KvSpec =
    copy(rows = math.max(200, (rows * f).toInt), keys = math.max(20, (keys * f).toInt))
}

final case class Doc(id: Long, text: String, lang: String, source: String)

/** A generated corpus with its truth: word counts, the token total, and
  * the duplicates it holds. `exactCopies` is the number of documents whose
  * text equals an earlier one's; `nearCopies` is the number of planted near
  * copies, and `nearCopiesAtThreshold` those whose word 3-shingle Jaccard
  * with their source reaches `Gen.NearDupJaccard`. */
final class Corpus(val docs: Array[Doc], val wordCounts: java.util.HashMap[String, java.lang.Long],
                   val tokens: Long, val nearCopies: Int, val nearCopiesAtThreshold: Int) {
  def rows: Int = docs.length
  lazy val exactCopies: Int = docs.length - docs.iterator.map(_.text).toSet.size
}

final class Kv(val keys: Array[Long], val values: Array[Long]) {
  def rows: Int = keys.length
  lazy val distinctKeys: Long = keys.distinct.length.toLong
  lazy val valueSum: Long = values.sum
}

object Gen {
  /** Testdata `documents` schema: the streaming harness reads this. */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val KvSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("value", LongType)))

  private val Punct = Array(",", ".", ";", ":", "!", "?")
  private val KeyModulus = 1000003L // prime, so multiplying by a non-multiple permutes

  /** Zipf(s) over ranks 1..n as a cumulative table, sampled by binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private def vocabulary(n: Int, r: java.util.SplittableRandom): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i < n) {
      sb.setLength(0)
      val len = 2 + r.nextInt(9)
      var k = 0
      while (k < len) { sb.append(('a' + r.nextInt(26)).toChar); k += 1 }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private def pick(weights: Seq[(String, Double)], r: java.util.SplittableRandom): String = {
    val u = r.nextDouble() * weights.map(_._2).sum
    var acc = 0.0
    weights.find { case (_, w) => acc += w; u < acc }.getOrElse(weights.last)._1
  }

  /** Graft's near-duplicate threshold (`Dedup.DefaultThreshold`). */
  val NearDupJaccard = 0.8
  /** Shortest document a near copy is made from. One replaced token
    * changes at most 3 of its len-2 word 3-shingles, so when those are
    * distinct the copy's Jaccard with its source is at least
    * (len-5)/(len+1), which is 0.8 from 29. */
  private val NearSourceMinTokens = 30

  /** Documents with doc_id 0..n-1. A doc is a fresh Zipf sample, an exact
    * copy of an earlier fresh doc's text, or a near copy of one: the same
    * tokens and punctuation with `nearDupEdits` words replaced by other
    * words. The copies are spread evenly at their shares, so every seed
    * plants the same number of them and only their content and sources
    * vary. Some tokens carry trailing punctuation and some are followed by
    * a bare `--`, which word count must strip or drop. */
  def corpus(spec: CorpusSpec, seed: Long): Corpus = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val vocab = vocabulary(spec.vocab, r)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val words = new Array[Array[Int]](spec.docs)
    val suffixes = new Array[Array[String]](spec.docs)
    val docs = new Array[Doc](spec.docs)
    val counts = new java.util.HashMap[String, java.lang.Long]()
    var tokens = 0L
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
    val nearSources = scala.collection.mutable.ArrayBuffer.empty[Int]
    var nearCopies = 0
    var nearAtThreshold = 0
    var exactDue = 0.0
    var nearDue = 0.0
    def render(ws: Array[Int], sfx: Array[String]): String = {
      val sb = new java.lang.StringBuilder
      var k = 0
      while (k < ws.length) {
        if (k > 0) sb.append(' ')
        sb.append(vocab(ws(k))).append(sfx(k))
        k += 1
      }
      sb.toString
    }
    var i = 0
    while (i < spec.docs) {
      exactDue += spec.exactDupShare
      nearDue += spec.nearDupShare
      val text =
        if (fresh.nonEmpty && exactDue >= 1) {
          exactDue -= 1
          val src = fresh(r.nextInt(fresh.size))
          words(i) = words(src); suffixes(i) = suffixes(src)
          docs(src).text
        } else if (nearSources.nonEmpty && nearDue >= 1) {
          nearDue -= 1
          val src = nearSources(r.nextInt(nearSources.size))
          val ws = words(src).clone()
          val at = Array.range(0, ws.length)
          var e = 0
          while (e < math.min(spec.nearDupEdits, ws.length)) {
            val j = e + r.nextInt(ws.length - e) // partial shuffle: distinct positions
            val t = at(e); at(e) = at(j); at(j) = t
            var w = zipf.sample(r)
            while (w == ws(at(e))) w = zipf.sample(r)
            ws(at(e)) = w
            e += 1
          }
          words(i) = ws; suffixes(i) = suffixes(src)
          val t = render(ws, suffixes(src))
          nearCopies += 1
          if (jaccard3(docs(src).text, t) >= NearDupJaccard) nearAtThreshold += 1
          t
        } else {
          fresh += i
          val len = math.max(1, spec.tokensPerDoc / 2 + r.nextInt(spec.tokensPerDoc + 1))
          if (len >= NearSourceMinTokens) nearSources += i
          val ws = Array.fill(len)(zipf.sample(r))
          val sfx = Array.fill(len) {
            val p = if (r.nextDouble() < spec.punctShare) Punct(r.nextInt(Punct.length)) else ""
            if (r.nextDouble() < spec.punctShare / 4) p + " --" else p
          }
          words(i) = ws; suffixes(i) = sfx
          render(ws, sfx)
        }
      words(i).foreach(w => counts.merge(vocab(w), 1L, (a: java.lang.Long, b: java.lang.Long) => a + b))
      tokens += words(i).length
      docs(i) = Doc(i.toLong, text, pick(spec.langWeights, r), s"src${r.nextInt(spec.sources)}")
      i += 1
    }
    new Corpus(docs, counts, tokens, nearCopies, nearAtThreshold)
  }

  /** Jaccard of the distinct whitespace-token 3-shingles of two texts, the
    * similarity graft's near-duplicate operators threshold. */
  private def jaccard3(a: String, b: String): Double = {
    def shingles(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Key/value rows with Zipf-skewed keys. A key's rank is scrambled into
    * its value (a bijection below `KeyModulus`), so the heavy keys are not
    * neighbours in key order: a range partitioner then gives the heaviest
    * key its own partition on every seed instead of drawing boundaries
    * through a run of heavy keys, whose cost would vary from seed to seed. */
  def kv(spec: KvSpec, seed: Long): Kv = {
    require(spec.keys < KeyModulus)
    val r = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val zipf = new Zipf(spec.keys, spec.zipfS)
    val keys = Array.fill(spec.rows)(zipf.sample(r).toLong * 2654435761L % KeyModulus)
    val values = Array.fill(spec.rows)(r.nextLong() & 0xffffffL)
    new Kv(keys, values)
  }

  def docsFrame(spark: SparkSession, c: Corpus): DataFrame = {
    val rows = new java.util.ArrayList[Row](c.rows)
    c.docs.foreach(d => rows.add(Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))
    spark.createDataFrame(rows, DocSchema)
  }

  /** Write the table as parquet from a broadcast of its columns: a
    * million local rows passed to `createDataFrame` travel inside one
    * task of over 10 MB, which Spark warns about. */
  def writeKv(spark: SparkSession, k: Kv, path: String): Unit = {
    val cols = spark.sparkContext.broadcast((k.keys, k.values))
    try {
      val rows = spark.sparkContext.range(0L, k.rows.toLong, 1L, 8).map { i =>
        val (keys, values) = cols.value
        Row(keys(i.toInt), values(i.toInt))
      }
      spark.createDataFrame(rows, KvSchema).write.mode("overwrite").parquet(path)
    } finally cols.destroy()
  }

  /** Expected per-document match counts of `pattern`, docs without a
    * match omitted (grep's output contract). */
  def grepCounts(c: Corpus, pattern: String): Map[Long, Long] = {
    val rx = pattern.r
    c.docs.iterator.map(d => d.id -> rx.findAllIn(d.text).length.toLong)
      .filter(_._2 > 0).toMap
  }
}
