package graft

import graft.operators.MapleJuice
import graft.operators.MapleJuice.Partitioner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spec for the `mj_maple_juice_api` surface (SURVEY §2.1): the typed
  * Maple/Juice round trip must reproduce the reference's wordcount
  * behavior (/root/reference/mje/src/wc_maple.cpp + wc_juice.cpp: emit
  * (word,1) after sanitize, sum per key) and the three partitioner modes
  * (/root/reference/src/partitioner.cpp) must place rows as promised.
  */
class MapleJuiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("maple flatMap + juice fold reproduces wc_maple/wc_juice counts") {
    import spark.implicits._
    val docs = Seq("the cat and the hat", "cat -- hat!", "and the cat").toDS()
    val pairs = MapleJuice.maple(docs) { line =>
      line.split("\\s+").toSeq
        .map(_.replaceAll("[^0-9a-zA-Z]", ""))
        .filter(_.nonEmpty)
        .map(w => (w, 1L))
    }
    val counts = MapleJuice.juice(pairs)(_ + _).collect().toMap
    assert(counts == Map("the" -> 3L, "cat" -> 3L, "and" -> 2L, "hat" -> 2L))
  }

  test("declarative wordCount matches the typed maple/juice result") {
    import spark.implicits._
    val docs = Seq("a b a", "b! c").toDF("text")
    val got = MapleJuice.wordCount(docs).as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("wordCount's native tokenizer keeps the regex form's word counts on adversarial text") {
    import spark.implicits._
    // tabs, \u000B, CRLF, NBSP and U+2028 (not Java \s), é, CJK, an
    // emoji (surrogate pair), NUL, "--", empty and null text
    val texts = Seq(
      Some("a\tb\u000Bc\r\nd\fe"), Some("café naïve 中文 😀ok"),
      Some("x y\u00A0z w\u2028v"), Some("nul\u0000byte -- !!"), Some("  lead and trail  "),
      Some(""), None, Some("don't stop--now"), Some("éé 中"))
    val docs = texts.toDF("text")
    val got = MapleJuice.wordCount(docs)
    val want = docs
      .select(explode(split(regexp_replace(col("text"), "[^0-9a-zA-Z\\s]", ""), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"got ${got.collect().toSeq} want ${want.collect().toSeq}")
    val counts = got.as[(String, Long)].collect().toMap
    assert(counts("x") == 1L && counts("yz") == 1L && counts("wv") == 1L && counts("dont") == 1L &&
      counts("nulbyte") == 1L && counts("ok") == 1L && !counts.contains(""))
  }

  test("wordCount runs on a session that never registered graft's functions") {
    import spark.implicits._
    // a fresh child session has its own function registry, like a
    // session built by the caller without GraftSession
    val bare = spark.newSession()
    assert(!bare.catalog.functionExists(graft.functions.WordTokens.Name))
    val docs = bare.createDataFrame(Seq(Tuple1("a b a"), Tuple1("b! c"))).toDF("text")
    val got = MapleJuice.wordCount(docs).as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("run() = maple + partitioner + juice in one job submission") {
    import spark.implicits._
    val docs = Seq("x y x", "y z").toDS()
    val counts = MapleJuice.run(docs, Some(Partitioner.Hash(Seq(col("key")))), Some(4)) {
      line => line.split(" ").toSeq.map(w => (w, 1L))
    }(_ + _).collect().toMap
    assert(counts == Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
  }

  test("hash partitioner co-locates keys (every key in exactly one partition)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 13, i)).toDF("k", "v")
    val parted = MapleJuice.partition(df, Partitioner.Hash(Seq(col("k"))), Some(7))
    val split = parted.select(col("k"), spark_partition_id().as("pid"))
      .groupBy("k").agg(countDistinct("pid").as("n"))
      .filter(col("n") > 1).count()
    assert(split == 0L)
    assert(parted.rdd.getNumPartitions == 7)
  }

  test("range partitioner orders partitions by key range") {
    import spark.implicits._
    val df = scala.util.Random.shuffle((1 to 1000).toList).toDF("k")
    val parted = MapleJuice.partition(df, Partitioner.Range(Seq(col("k"))), Some(5))
    val ranges = parted.select(col("k"), spark_partition_id().as("pid"))
      .groupBy("pid").agg(min("k").as("lo"), max("k").as("hi"))
      .orderBy("pid").collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    // consecutive partitions hold disjoint, increasing ranges
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2)
      case _ =>
    }
  }

  test("grep through the generic run API: per-doc match counts, zero-match docs absent") {
    import spark.implicits._
    val docs = Seq(
      (10L, "spark runs spark jobs with spark"), // 3 matches
      (11L, "no hits here at all"),              // absent from output
      (12L, "dup dup"),                          // 2 matches
      (13L, "sparkdup"),                         // overlapping words: 2 non-overlapping matches
      (14L, "")                                  // empty doc, absent
    ).toDF("doc_id", "text")
    val got = MapleJuice.grep(docs, "spark|dup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((10L, 3L), (12L, 2L), (13L, 2L)))
    // alternation precedence: leftmost match wins, like grep
    assert(MapleJuice.grep(Seq((1L, "dupspark")).toDF("doc_id", "text"), "spark|dup")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList == List((1L, 2L)))
  }

  test("grep's typed juice keeps map-side partial aggregation (shuffle carries partial sums)") {
    // the docstring's scale claim: reduceGroups compiles to a
    // partial-merge Aggregator, so the exchange carries one
    // partially-summed pair per (doc, split), never one row per match
    val plan = MapleJuice.grep(Tables.documents(spark, TestSpark.sf), "spark|dup")
      .queryExecution.executedPlan.toString
    val exchangeAt = plan.indexOf("Exchange")
    val partialAt = plan.indexOf("partial_reduceaggregator")
    assert(partialAt >= 0, s"no partial ReduceAggregator in grep's plan:\n$plan")
    assert(exchangeAt >= 0 && exchangeAt < partialAt,
      s"partial aggregation must sit BELOW the shuffle (plans print top-down):\n$plan")
  }

  test("round-robin partitioner balances rows") {
    import spark.implicits._
    val df = (1 to 1000).toDF("k")
    val parted = MapleJuice.partition(df, Partitioner.RoundRobin, Some(8))
    val sizes = parted.rdd.glom().map(_.length).collect()
    // each SOURCE partition deals round-robin from a random start offset,
    // so target imbalance is bounded by the source partition count
    val sourceParts = df.rdd.getNumPartitions
    assert(sizes.length == 8 && sizes.max - sizes.min <= sourceParts)
  }
}
