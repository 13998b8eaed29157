package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def one[T](c: org.apache.spark.sql.Column, text: String): T = {
    import spark.implicits._
    Seq(text).toDF("text").select(c).collect().head.get(0).asInstanceOf[T]
  }

  test("tokens splits on whitespace and drops empties") {
    assert(one[scala.collection.Seq[String]](tokens(col("text")), "  a  b\tc \n d ").toList ==
      List("a", "b", "c", "d"))
  }

  test("punctCount counts non-alnum non-space bytes") {
    assert(one[Int](punctCount(col("text")), "a.b,c!") == 3)
    assert(one[Int](punctCount(col("text")), "abc 123") == 0)
  }

  test("bpeTokenCount: letter runs, digit runs, single punct") {
    // "ab12cd!?" -> ab | 12 | cd | ! | ?  = 5
    assert(one[Long](bpeTokenCount(col("text")), "ab12cd!?") == 5L)
  }

  test("rollingFingerprint matches hand-computed polynomial hash") {
    // fp("ab") = (0*31+97)*31 + 98 = 3105
    assert(one[Long](rollingFingerprint(col("text")), "ab") == (97L * 31 + 98))
    // deterministic: same input -> same fp
    assert(one[Long](rollingFingerprint(col("text")), "spark") ==
      one[Long](rollingFingerprint(col("text")), "spark"))
  }

  test("stopwordRatio on a known sentence") {
    val r = one[Double](stopwordRatio(tokens(col("text")), stopEn), "the cat sat")
    assert(math.abs(r - 1.0 / 3.0) < 1e-9)
  }

  test("scrubPii detects and redacts emails, phones and IPs, in the fixed order") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob@example.com or alice@test.org, call 555-123-4567, host 10.0.0.1"),
      (2L, "clean text, version 1.2 is not an ip, 12-34 not a phone"),
      // the email pass claims the whole token INCLUDING its digit run —
      // counts must reflect the placeholders actually emitted (1 email,
      // 0 phones), not raw-text pattern hits
      (3L, "reach 555-123-4567@corp.com today"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.scrubPii(d).collect()
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3)) == ((2L, 1L, 1L)))
    assert((got(1).getLong(1), got(1).getLong(2), got(1).getLong(3)) == ((0L, 0L, 0L)))
    assert((got(2).getLong(1), got(2).getLong(2), got(2).getLong(3)) == ((1L, 0L, 0L)))
    // the clean doc's hash is the hash of its unmodified text; the PII
    // doc's is the hash of the placeholder form — raw PII never survives
    val scrubbed = "mail <EMAIL> or <EMAIL>, call <PHONE>, host <IP>"
    val hashes = Seq(scrubbed, "clean text, version 1.2 is not an ip, 12-34 not a phone",
      "reach <EMAIL> today")
      .toDF("t")
      .select(org.apache.spark.sql.functions.md5(col("t").cast("binary")))
      .collect().map(_.getString(0))
    assert(got.map(_.getString(4)).toSeq == hashes.toSeq)
  }

  test("bloom probe: native any-contain matches direct sketch probes, null-safe") {
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(7L, 42L, 9000L).foreach(bf.putLong)
    val bfB = spark.sparkContext.broadcast(bf)
    val df = Seq(
      (1L, Some(Seq(1L, 2L, 42L))), // one member → true
      (2L, Some(Seq(1L, 2L, 3L))),  // no members → false (fpp 0.01 on 3 probes)
      (3L, Some(Seq.empty[Long])),  // empty array → false
      (4L, None)                    // null array → null → row dropped by filter
    ).toDF("id", "arr")
    // the probe Column carries its sketch in its own expression: building
    // the gated frame leaves the session's function catalog unchanged
    def functions = spark.catalog.listFunctions().collect().map(_.name).toSet
    val before = functions
    val gatedDf = df.filter(graft.functions.BloomProbe.anyContain(spark, col("arr"), bfB))
      .select(col("id"))
    assert(functions == before)
    val gated = gatedDf.collect().map(_.getLong(0)).toSet
    assert(gated == Set(1L))
    // interpreted path (no codegen): same verdicts
    val expr = graft.functions.BloomAnyContain(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType), true), bfB)
    import org.apache.spark.sql.catalyst.util.ArrayData
    def row(xs: Seq[Long]) = org.apache.spark.sql.catalyst.InternalRow(ArrayData.toArrayData(xs.toArray))
    assert(expr.eval(row(Seq(1L, 9000L))) == true)
    assert(expr.eval(row(Seq(1L, 2L))) == false)
    assert(expr.eval(row(Seq.empty)) == false)
    assert(expr.eval(org.apache.spark.sql.catalyst.InternalRow(null)) == null)
  }

  test("every native builder gives the same rows on a bare child session") {
    import graft.functions._
    def base(s: org.apache.spark.sql.SparkSession) = s.createDataFrame(Seq(
      (1L, Option("the cat sat on the mat, the cat sat"), Seq(1.0, 0.5, -2.0), 0.9),
      (2L, Option("Spark's byte-level tokenizer: once more!"), Seq(0.1, 0.2, 0.3), 0.4),
      (3L, Option(""), Seq(-1.0, 0.0, 2.5), 0.4),
      (4L, None, Seq(0.3, -0.7, 0.2), 0.1))).toDF("id", "text", "vec", "score")
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    base(spark).filter(col("id") === 1L)
      .select(explode(ShingleFunctions.shingleHashes(col("text"), 3)))
      .collect().foreach(r => bf.putLong(r.getLong(0)))
    val bfB = spark.sparkContext.broadcast(bf)
    val codec = spark.sparkContext.broadcast(BpeCodec(Seq(
      graft.operators.Bpe.Merge(0, "t", "h", 1L), graft.operators.Bpe.Merge(1, "th", "e", 1L))))
    val t = col("text")
    val cases: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "wordTokens" -> (_.select(col("id"), WordTokens.wordTokens(t))),
      "tokenStats" -> (_.select(col("id"), TokenStats.tokenStats(t))),
      "rollingHash" -> (_.select(col("id"), RollingHash.rollingHash(t))),
      "repetitionStats" -> (_.select(col("id"), RepetitionStats.repetitionStats(t))),
      "shingleHashes" -> (_.select(col("id"), ShingleFunctions.shingleHashes(t, 3))),
      "shingleHashSeq" -> (_.select(col("id"), ShingleFunctions.shingleHashSeq(t, 2))),
      "simhash" -> (_.select(col("id"), ShingleFunctions.simhash(t))),
      "minhashSig" -> (_.select(col("id"),
        ShingleFunctions.minhashSig(ShingleFunctions.shingleHashes(t, 3), 16))),
      "cosineSim" -> (_.select(col("id"), CosineSim.cosineSim(col("vec"), col("vec")))),
      "lshBuckets" -> (_.select(col("id"), LshBuckets.lshBuckets(col("vec"), 4, 6))),
      "anyContain" -> (df => df.select(col("id"), BloomProbe.anyContain(
        df.sparkSession, ShingleFunctions.shingleHashes(t, 3), bfB))),
      "bpeTokens" -> (_.select(col("id"), BpeEncode.tokens(t, codec))),
      "simhashAgg" -> (_.groupBy(col("score"))
        .agg(SimHashAgg.simhashAgg(ShingleFunctions.simhash(t)))),
      "topKAgg" -> (_.groupBy(col("score"))
        .agg(TopKAgg.topKAgg(col("score"), col("id"), 1))))
    val bare = spark.newSession()
    assert(!bare.catalog.listFunctions().collect().exists(_.name.startsWith("graft_")))
    cases.foreach { case (name, build) =>
      def rows(s: org.apache.spark.sql.SparkSession) = build(base(s)).collect().map(_.toString).sorted.toSeq
      val want = rows(spark)
      assert(want.size >= 3, s"$name: $want")
      assert(rows(bare) == want, name)
    }
  }

  test("repetitionStats counters on a hand-checked doc") {
    val rs = graft.functions.RepetitionStats.repetitionStats(col("text"))
    // "a b a b a": unigrams a×3 b×2 → top 3; bigrams "a b"×2 "b a"×2 →
    // top 2; trigrams "a b a"×2 "b a b"×1 → 3 total, 2 duplicate occs
    val r = {
      import spark.implicits._
      Seq("a b a b a").toDF("text").select(rs.getField("n_tokens"),
        rs.getField("top_unigram_count"), rs.getField("top_bigram_count"),
        rs.getField("n_trigrams"), rs.getField("n_dup_trigrams")).collect().head
    }
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((5L, 3L, 2L, 3L, 2L)))
  }

  test("repetitionStats edge cases: empty, one token, no repetition") {
    import spark.implicits._
    val rs = graft.functions.RepetitionStats.repetitionStats(col("text"))
    val rows = Seq("", "solo", "w x y z").toDF("text")
      .select(rs.getField("n_tokens"), rs.getField("top_unigram_count"),
        rs.getField("top_bigram_count"), rs.getField("n_trigrams"),
        rs.getField("n_dup_trigrams")).collect()
    assert(rows(0).toSeq == Seq(0L, 0L, 0L, 0L, 0L))
    assert(rows(1).toSeq == Seq(1L, 1L, 0L, 0L, 0L))
    // distinct 4-token doc: tops are 1, two trigrams, zero duplicates
    assert(rows(2).toSeq == Seq(4L, 1L, 1L, 2L, 0L))
  }

  test("lmScore matches the hand-computed add-one bigram model") {
    import spark.implicits._
    // corpus: "a b a b" + "a b". pairs: doc1 (a,b),(b,a),(a,b); doc2 (a,b)
    // counts: c(a,b)=3, c(b,a)=1; contexts c(a·)=3, c(b·)=1; V = 3 —
    // the DICTIONARY spans all docs, including pair-less "solo"
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pAB = math.log((3 + 1.0) / (3 + 3.0)) // ln(2/3)
    val pBA = math.log((1 + 1.0) / (1 + 3.0)) // ln(1/2)
    // docs with <2 words emit nothing (no bigram to score)
    assert(got == List(
      (1L, 3L, r6((pAB + pBA + pAB) / 3)),
      (2L, 1L, r6(pAB))))
  }

  test("lmScore topK cap is conservative: capped scores never exceed uncapped") {
    val docs = Tables.documents(spark, TestSpark.sf)
    def scores(k: Option[Int]) = graft.operators.TextAnalysis.lmScore(docs, k)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val full = scores(None)
    // a cap big enough for every bigram is a no-op (left join == inner)
    assert(scores(Some(1000000)) == full)
    // a tight cap drops tail pairs to smoothing mass — scores only drop
    val capped = scores(Some(20))
    assert(capped.keySet == full.keySet)
    val eps = 1e-9
    assert(capped.forall { case (id, s) => s <= full(id) + eps },
      "capped LM must never score a doc HIGHER than the full model")
    assert(capped.exists { case (id, s) => s < full(id) - 1e-6 },
      "a 20-row cap on this corpus should actually bite")
  }
}
