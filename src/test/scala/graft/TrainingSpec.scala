package graft

import graft.operators.{Corpus, Dedup, Training}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the training-set assembly operators (SURVEY §2.7 extension)
  * beyond the driver's DuckDB oracles: sampling-rate/independence
  * properties, hash-vs-string shingle equivalence for decontamination,
  * and partitioning-invariance of the two-phase packing prefix sum.
  */
class TrainingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.sf)

  test("stratified sampling keeps unsampled languages whole and halves en deterministically") {
    val langs = operators.TextAnalysis.langId(spark, TestSpark.sf)
      .select(col("doc_id"), col("lang_pred"))
    val byLang = langs.groupBy("lang_pred").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Training.stratifiedSample(docs)
    val keptByLang = kept.groupBy("lang_pred").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // non-en strata untouched
    for ((l, n) <- byLang if l != "en")
      assert(keptByLang.getOrElse(l, 0L) == n, s"stratum $l must be kept whole")
    // en downsampled to ~50% (md5 buckets are uniform; the fixed corpus
    // lands within a generous binomial band) and deterministically: two
    // runs agree row-for-row
    val en = byLang.getOrElse("en", 0L)
    val enKept = keptByLang.getOrElse("en", 0L)
    assert(enKept < en && math.abs(enKept - en / 2.0) < en * 0.2,
      s"en kept $enKept of $en, expected ~half")
    assert(kept.collect().toSeq == Training.stratifiedSample(docs).collect().toSeq)
    // keep-all fractions = identity assignment
    assert(Training.stratifiedSample(docs, Map.empty).count() == docs.count())
  }

  test("stratified keep decision is independent of the train/test split hash") {
    // the strat: salt must decorrelate sampling from splitting — if the
    // same unsalted bucket drove both, every kept en doc would sit in
    // 'train' (buckets < 80 ⊂ < cd) and en validation/test would vanish
    val kept = Training.stratifiedSample(docs).select("doc_id")
    val splits = Corpus.sampleSplit(docs).select(col("doc_id"), col("split"))
    val keptSplits = kept.join(splits, "doc_id")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptSplits.getOrElse("validation", 0L) + keptSplits.getOrElse("test", 0L) > 0,
      "sampling must not be correlated with the split assignment")
  }

  test("decontam hash join finds exactly the string-shingle overlaps") {
    // recompute with STRING shingles (no 64-bit hashing): identical
    // result modulo hash collisions, so equality pins collision-freedom
    // and join correctness at once
    val split = Corpus.sampleSplit(docs).select(col("doc_id"), col("split"))
    val ex = Dedup.shingleSets(docs, 5)
      .join(split, "doc_id")
      .select(col("doc_id"), col("split"), explode(col("shingles")).as("s"))
    val tr = ex.filter(col("split") === "train").select(col("doc_id"), col("s"))
    val te = ex.filter(col("split") === "test").select(col("doc_id").as("test_id"), col("s"))
    val viaStrings = tr.join(te, "s")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("test_id")).as("n_test_docs"),
        countDistinct(col("s")).as("n_shared_shingles"))
      .orderBy(col("doc_id"))
      .collect().toSeq
    assert(Training.decontamNgram(docs).collect().toSeq == viaStrings)
  }

  test("decontam df cap drops boilerplate-only contamination") {
    import spark.implicits._
    // 40 docs sharing a boilerplate prefix (so its 5-grams have df=40)
    // with unique suffixes; md5 splits put some in train and some in
    // test, so uncapped decontam flags boilerplate-only overlaps —
    // capping df at 10 drops them all
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val d = (1L to 40L).map(i => i -> s"$boiler u${i}x u${i}y u${i}z").toDF("doc_id", "text")
    val uncapped = Training.decontamNgram(d).count()
    val capped = Training.decontamNgram(d, maxShingleDf = Some(10)).count()
    assert(uncapped > 0, "boilerplate 5-grams should cross the split boundary")
    assert(capped == 0, s"df cap should drop boilerplate-only contamination, got $capped")
  }

  test("corpus_mix keeps the binding stratum whole, halves oversupplied ones, drops unweighted") {
    import spark.implicits._
    // strata: a×400, b×200, c×100, d×50; weights a=.5 b=.25 c=.25 →
    // T = min(400/.5, 200/.25, 100/.25) = 400 → rates a=.5, b=.5, c=1.0
    val d = ((1 to 400).map(i => (i.toLong, s"a doc $i", "a")) ++
      (1 to 200).map(i => (400L + i, s"b doc $i", "b")) ++
      (1 to 100).map(i => (600L + i, s"c doc $i", "c")) ++
      (1 to 50).map(i => (700L + i, s"d doc $i", "d")))
      .toDF("doc_id", "text", "lang")
    val got = Training.corpusMix(d, Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("c", 0) == 100, "binding stratum must keep every doc")
    assert(!byLang.contains("d"), "unweighted strata are weight-0: dropped")
    // halved strata: cap = 128/256 exactly; allow binomial noise
    assert(byLang("a") > 140 && byLang("a") < 260, s"a kept ${byLang("a")}, want ~200")
    assert(byLang("b") > 60 && byLang("b") < 140, s"b kept ${byLang("b")}, want ~100")
    // deterministic: the keep set is content-hashed, not sampled
    assert(Training.corpusMix(d, Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == got.toSeq)
  }

  test("corpus_mix_temperature: alpha=1 is identity, alpha=0 flattens, alpha=0.3 boosts the tail") {
    import spark.implicits._
    // strata: a×800, b×200, c×50 — a 16:4:1 natural distribution
    val d = ((1 to 800).map(i => (i.toLong, s"ta doc $i", "a")) ++
      (1 to 200).map(i => (800L + i, s"tb doc $i", "b")) ++
      (1 to 50).map(i => (1000L + i, s"tc doc $i", "c")))
      .toDF("doc_id", "text", "lang")
    def keptBy(alpha: Double): Map[String, Int] =
      Training.corpusMixTemperature(d, alpha).collect()
        .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // alpha=1: natural distribution untouched (rate 1 everywhere)
    assert(keptBy(1.0) == Map("a" -> 800, "b" -> 200, "c" -> 50))
    // alpha=0: uniform — every stratum capped at ~n_min (binomial noise)
    val flat = keptBy(0.0)
    assert(flat("c") == 50, "smallest stratum is always kept whole")
    assert(flat("a") > 25 && flat("a") < 80, s"a kept ${flat("a")}, want ~50")
    assert(flat("b") > 25 && flat("b") < 80, s"b kept ${flat("b")}, want ~50")
    // alpha=0.3: output ratios flatten toward n^alpha (16:4:1 → ~2.3:1.5:1)
    val t = keptBy(0.3)
    assert(t("c") == 50, "smallest stratum kept whole at every alpha")
    val expA = 50.0 * math.pow(16.0, 0.3) // ≈ 115
    val expB = 50.0 * math.pow(4.0, 0.3)  // ≈ 76
    assert(math.abs(t("a") - expA) < 0.35 * expA, s"a kept ${t("a")}, want ~$expA")
    assert(math.abs(t("b") - expB) < 0.35 * expB, s"b kept ${t("b")}, want ~$expB")
    // the boost is real: a's output share fell from 16/21 to under half
    assert(t("a").toDouble / (t("a") + t("b") + t("c")) < 0.5)
  }

  test("corpus_mix binding stratum survives IEEE rounding at the 1.0 boundary") {
    import spark.implicits._
    // w=0.009 with n=5 makes the binding stratum's rate compute as
    // 0.9999999999999998 in doubles (w·(n/w)/n rounds below 1 for
    // non-dyadic w), which floors to cap 255 without the epsilon nudge —
    // and 'a doc 247' lives in md5('mix:'…) bucket 'ff', exactly the doc
    // a 255-cap silently drops. The oracle mirrors the same arithmetic,
    // so only this spec can catch it.
    val d = ((Seq(247) ++ (1 to 4)).map(i => (i.toLong, s"a doc $i", "a")) ++
      (1 to 600).map(i => (1000L + i, s"b doc $i", "b")))
      .toDF("doc_id", "text", "lang")
    val kept = Training.corpusMix(d, Map("a" -> 0.009, "b" -> 0.991))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "a") == 5,
      s"binding stratum lost docs to the floor boundary: ${kept.filter(_._2 == "a").toSeq}")
  }

  test("decontam_bloom equals exact decontam minus the per-test attribution") {
    val exact = Training.decontamNgram(docs)
      .select(col("doc_id"), col("n_shared_shingles")).collect().toSeq
    assert(Training.decontamBloom(docs).collect().toSeq == exact)
  }

  test("decontam_bloom is exact at ANY false-positive rate (confirm join kills FPs)") {
    // fpp=0.5 makes the sketch nearly useless as a gate — half the clean
    // corpus leaks through to the confirm join — but the OUTPUT must not
    // change by a single row: FP rate is a performance knob, not a
    // correctness one. This is the property that keeps the query
    // hash-checkable against the exact SQL oracle.
    assert(Training.decontamBloom(docs, fpp = 0.5).collect().toSeq ==
      Training.decontamBloom(docs, fpp = 0.001).collect().toSeq)
  }

  test("training manifest composes clean + split + decontam + pack coherently") {
    val m = Training.trainingManifest(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(m.nonEmpty)
    // every row passed the clean gate
    assert(m.forall(_._3 >= 0.75))
    // train rows: offsets are the exact prefix sums of n_tokens in
    // doc_id order (contiguous packing, no gaps, no overlap) and seq_id
    // is the 2048-chunk of the offset; non-train rows carry the -1
    // sentinels
    val train = m.filter(_._2 == "train").sortBy(_._1)
    var expected = 0L
    for ((_, _, _, nTok, off, sid) <- train) {
      assert(off == expected, s"offset gap: got $off want $expected")
      assert(sid == expected / 2048)
      expected += nTok
    }
    assert(m.filter(_._2 != "train").forall(r => r._5 == -1L && r._6 == -1L))
    // decontamination direction: no contaminated doc survives in TRAIN,
    // while contaminated ids may legitimately appear as val/test rows
    val contam = Training.decontamNgram(Tables.documents(spark, TestSpark.sf))
      .collect().map(_.getLong(0)).toSet
    assert(train.forall(r => !contam(r._1)))
  }

  test("training manifest with BPE counts: self-consistent offsets in tokenizer units") {
    // the production token counter: n_tokens, offsets and seq ids must
    // stay mutually consistent when BPE counts replace whitespace counts
    val m = Training.trainingManifest(spark, TestSpark.sf, seqLen = 512, bpeMerges = Some(8))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(m.nonEmpty)
    val train = m.filter(_._2 == "train").sortBy(_._1)
    var expected = 0L
    for ((_, _, nTok, off, sid) <- train) {
      assert(off == expected, s"offset gap: got $off want $expected")
      assert(sid == expected / 512)
      expected += nTok
    }
    assert(m.filter(_._2 != "train").forall(r => r._4 == -1L && r._5 == -1L))
    // the counter really changed units: with only 8 merges learned, BPE
    // token counts sit strictly ABOVE whitespace word counts (chars are
    // only partially merged) for every non-trivial doc
    val ws = Training.trainingManifest(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toMap
    val diff = train.count { case (id, _, nTok, _, _) => nTok > ws(id) }
    assert(diff == train.length, s"only $diff/${train.length} docs counted in BPE units")
  }

  test("tfidf ranks a hand-checked corpus correctly") {
    import spark.implicits._
    // "rare" appears only in doc 1 (idf=ln(3)), "shared" in all three
    // (idf=0, never a top term over a positive-idf one)
    val d = Seq(
      1L -> "shared rare rare",
      2L -> "shared only2",
      3L -> "shared only3").toDF("doc_id", "text")
    val out = Training.tfidfTopTerms(d, k = 1).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "rare"), (2L, "only2"), (3L, "only3")))
    // doc 1's winner: tf=2 · ln(3/1)
    assert(math.abs(out(0).getDouble(4) - 2 * math.log(3.0)) < 1e-5)
    // per-doc row cap and monotone scores on the real corpus
    val full = Training.tfidfTopTerms(docs)
    val byDoc = full.collect().groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    assert(byDoc.values.forall(rs => rs.map(_.getDouble(4)).sameElements(
      rs.map(_.getDouble(4)).sorted(Ordering[Double].reverse))))
  }

  test("pack_sequences two-phase prefix sum equals the single-window sum, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val expected = docs
      .select(col("doc_id"),
        graft.functions.TokenStats.tokenStats(col("text")).getField("n_tokens").as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(
          Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq_id", floor(col("start_offset") / 2048).cast("long"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(Training.packSequences(docs).collect().toSeq == expected)
    // offsets are a GLOBAL property — they must not depend on how the
    // input happens to be split
    assert(Training.packSequences(docs.repartition(7)).collect().toSeq == expected)
    assert(Training.packSequences(docs.coalesce(1)).collect().toSeq == expected)
  }

  test("best-fit packing: one bin per doc set, capacity kept, oversize isolated, deterministic") {
    import spark.implicits._
    // token counts: two oversized (12, 10), the rest pack into cap-8 bins
    val sizes = Seq(12, 10, 7, 6, 5, 4, 3, 3, 2, 2, 1, 1)
    val docs = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    def run() = Training.packSequencesBestFit(docs, seqLen = 8, partitions = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = run()
    // every doc exactly once
    assert(got.map(_._1).toSeq.sorted == (0L until sizes.length).toSeq)
    val byBin = got.groupBy(_._3)
    // oversized docs sit alone
    for ((id, n, bin) <- got if n >= 8)
      assert(byBin(bin).length == 1, s"oversized doc $id shares bin $bin")
    // no multi-doc bin over capacity
    for ((bin, members) <- byBin if members.length > 1)
      assert(members.map(_._2).sum <= 8, s"bin $bin overflows: $members")
    // first-fit guarantee: at most one at-most-half-full bin per partition
    for ((pid, bins) <- byBin.groupBy { case (bin, _) => bin >> 32 }) {
      val underhalf = bins.count { case (bin, members) =>
        members.head._2 < 8 /* not an oversize bin */ &&
          members.map(_._2).sum * 2 <= 8
      }
      assert(underhalf <= 1, s"partition $pid has $underhalf half-empty bins")
    }
    // deterministic: a second run reproduces the assignment exactly
    assert(run().toSeq == got.toSeq)
    // and the contract twin agrees on this corpus
    val check = Training.packBestFitCheck(docs, seqLen = 8, partitions = 3).collect().head
    assert((check.getLong(0), check.getBoolean(1), check.getLong(2), check.getBoolean(3)) ==
      ((sizes.length.toLong, true, 0L, true)))
  }

  test("shuffle_shards: every doc once, shards bounded, epoch re-salt permutes") {
    val n = docs.count()
    val e0 = Training.shuffleShards(docs, nShards = 8, epoch = 0)
    val rows = e0.collect()
    assert(rows.length == n.toInt, "manifest must cover every doc exactly once")
    assert(rows.map(_.getLong(0)).distinct.length == n.toInt)
    assert(rows.map(_.getLong(1)).forall(s => s >= 0 && s < 8))
    // positions are dense 1..|shard| within each shard
    rows.groupBy(_.getLong(1)).values.foreach { sh =>
      assert(sh.map(_.getLong(2)).sorted.toSeq == (1L to sh.length).toSeq)
    }
    // a new epoch is a genuinely different permutation (fresh salt),
    // but the same epoch is bit-stable under re-execution
    val e0again = Training.shuffleShards(docs, nShards = 8, epoch = 0).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      e0again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    val e1 = Training.shuffleShards(docs, nShards = 8, epoch = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val moved = rows.count(r => e1(r.getLong(0)) != ((r.getLong(1), r.getLong(2))))
    assert(moved > n / 2, s"epoch re-salt barely moved anything: $moved of $n")
  }

  test("corpus_mix_tokens: binding stratum kept whole, token shares track targets") {
    import graft.operators.Training
    val nt = docs.select(col("lang"),
      graft.functions.TokenStats.tokenStats(col("text")).getField("n_tokens").as("nt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val tokBy = nt.groupBy(_._1).view.mapValues(_.map(_._2).sum.toDouble).toMap
    val w = Training.DefaultMixWeights
    val binding = tokBy.keys.filter(w.contains).minBy(l => tokBy(l) / w(l))
    val kept = Training.corpusMixTokens(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keptByLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val docsByLang = nt.groupBy(_._1).view.mapValues(_.length).toMap
    // the binding stratum (min token-total / weight) is kept whole
    assert(keptByLang(binding) == docsByLang(binding),
      s"binding stratum $binding not kept whole")
    // kept TOKEN totals track w_s * T (T = binding's tokens/weight);
    // per-doc hash sampling is binomial over ~100 docs/stratum, so a
    // wide band — the EXACT arithmetic is the DuckDB oracle's job
    val keptTok = docs.join(
      Training.corpusMixTokens(docs).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("lang"),
        graft.functions.TokenStats.tokenStats(col("text")).getField("n_tokens").as("nt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum.toDouble).toMap
    val bigT = tokBy(binding) / w(binding)
    for ((l, wt) <- w if tokBy.contains(l)) {
      val target = wt * bigT
      val got = keptTok.getOrElse(l, 0.0)
      assert(math.abs(got - target) / target < 0.5,
        s"$l kept tokens $got vs target $target — off by >50%")
    }
  }

  test("shuffle_shards_upsampled: copies covered once and scattered independently") {
    val copies = Training.corpusUpsample(docs)
    val nCopies = copies.count()
    val rows = Training.shuffleShardsCopies(copies, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every (doc, copy) exactly once; positions dense per shard
    assert(rows.length == nCopies.toInt)
    assert(rows.map(t => (t._1, t._2)).distinct.length == nCopies.toInt)
    rows.groupBy(_._3).values.foreach { sh =>
      assert(sh.map(_._4).sorted.toSeq == (1L to sh.length).toSeq)
    }
    // the POINT of salting with copy_id: a multi-copy doc's copies land
    // in different shards for most docs (a doc_id-only key would pin
    // every copy to one shard — fraction co-sharded would be 1.0; truly
    // independent 8-way placement co-shards a k-copy doc with prob
    // 8^-(k-1) ≤ 1/8, so 0.5 splits the two hypotheses with huge margin)
    val multi = rows.groupBy(_._1).filter(_._2.length >= 2)
    assert(multi.nonEmpty, "upsample produced no multi-copy docs — vacuous test")
    val coSharded = multi.values.count(g => g.map(_._3).distinct.length == 1)
    assert(coSharded.toDouble / multi.size < 0.5,
      s"copies co-sharded for $coSharded of ${multi.size} multi-copy docs")
  }
}
