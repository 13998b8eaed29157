package graft

import graft.operators.{Dedup, Training}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Null/degenerate-input behavior of the text pipeline. A 100 TB crawl
  * always carries null and empty text rows; every operator must have a
  * DEFINED reaction (propagate null or drop the row), never a crash.
  * The native expressions are UnaryExpressions with nullSafeEval, so
  * null text → null output → explode/filter drops the row; these specs
  * pin that chain end-to-end per operator family.
  */
class RobustnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsWithNull = {
    import spark.implicits._
    Seq((1L, Option("the cat sat on the mat")), (2L, None), (3L, Option("")),
      (4L, Option("   ")))
      .toDF("doc_id", "text")
  }

  test("native text expressions propagate null and handle empty/blank text") {
    val out = docsWithNull.select(col("doc_id"),
      graft.functions.TokenStats.tokenStats(col("text")).as("ts"),
      graft.functions.RepetitionStats.repetitionStats(col("text")).as("rs"),
      graft.functions.ShingleFunctions.shingleHashes(col("text"), 3).as("sh"),
      graft.functions.ShingleFunctions.shingleHashSeq(col("text"), 3).as("shs"),
      graft.functions.ShingleFunctions.simhash(col("text")).as("sim"))
      .orderBy(col("doc_id")).collect()
    assert(out.length == 4)
    // null text → every derived column null (simhash included)
    assert((1 to 5).forall(i => out(1).isNullAt(i)))
    // empty + whitespace-only text → zero counts, empty arrays, not nulls
    for (r <- Seq(out(2), out(3))) {
      assert(r.getStruct(1).getLong(0) == 0L && r.getStruct(2).getLong(0) == 0L)
      assert(r.getSeq[Long](3).isEmpty && r.getSeq[Long](4).isEmpty)
      assert(!r.isNullAt(5))
    }
  }

  test("AQE splits a skewed fact-fact join instead of serializing the hot key") {
    // SURVEY §5 promises "skew → AQE skew join"; this pins it. One hot
    // key holds ~50% of the left fact — the 100 TB shape where a single
    // shuffle partition would otherwise carry half the join. AQE's
    // OptimizeSkewedJoin must mark the SMJ and split the hot partition.
    //
    // Config floor (documented by existence of this spec): the detector
    // needs the skewed partition to exceed BOTH skewedPartitionFactor ×
    // median AND skewedPartitionThresholdInBytes, and splitting targets
    // advisoryPartitionSizeInBytes — at test scale (MBs, not the
    // defaults' 256MB/64MB) the thresholds must come down with the data;
    // a deployment at sf-real keeps the defaults.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    // force the shuffle path: a broadcast would dodge the skew entirely
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import ss.implicits._
    val n = 40000
    // left fact: key 0 carries half the rows; right fact: one row per key
    // (the skew detector reads the LEFT side's partition bytes)
    val left = ss.range(0, n).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % 64).as("k"),
      concat(lit("left-payload-left-payload-left-payload-"), col("id")).as("lv"))
    val right = ss.range(0, 64).select(col("id").as("k"),
      concat(lit("right-payload-"), col("id")).as("rv"))
    val joined = left.join(right, "k")
    // execute THIS Dataset (not a derived count() — that is a different
    // QueryExecution and would leave this one's adaptive plan unfinalized)
    val rows = joined.collect()
    // every row survives the split exactly once: inner join on a
    // 1-row-per-key right side is a row-preserving lookup
    assert(rows.length == n, s"skew split lost or duplicated rows: ${rows.length}")
    // string-level assertions: AQE query stages are leaf nodes, so a
    // typed collect() never descends into the materialized stages
    val finalPlan = (joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(finalPlan.contains("(skew=true)"),
      s"OptimizeSkewedJoin did not mark the join:\n$finalPlan")
    // and the hot partition was actually SPLIT: the skewed side's shuffle
    // read advertises skew handling (sub-partition reads of the hot key)
    assert(finalPlan.contains("skewed"),
      s"no skew-split shuffle read in:\n$finalPlan")
  }

  test("verdict queries are falsifiable: impossible contracts turn the flags red") {
    // a contract check that cannot fail verifies nothing — drive each
    // verdict's knob to an unsatisfiable setting and watch it go red
    // (the driver-facing defaults stay green in CORRECTNESS)
    val docs = Tables.documents(spark, TestSpark.sf)
    // recall floor above 1.0 is unreachable by definition
    assert(!graft.operators.Dedup.minhashLshCheck(docs, recallFloor = 1.01)
      .head().getBoolean(3), "minhash recall_ok must fail an impossible floor")
    // hamming < 0 empties the simhash relation → every planted exact-dup
    // pair missed (the check plants dups, so the set is never empty)
    val sim = graft.operators.Dedup.simhashCheck(docs, maxHamming = -1).head()
    assert(sim.getLong(0) > 0, "planted duplicates must make the containment set non-empty")
    assert(sim.getLong(1) == sim.getLong(0) && !sim.getBoolean(2),
      "simhash all_found must fail when the relation is emptied")
    // recall floor above 1.0 for one ANN variant flips only that verdict
    // (a PARTIAL override: the other variants must keep their default
    // floors, not silently drop to an unfalsifiable 0.0)
    val ann = graft.operators.Similarity.recallCheck(
      Tables.embeddings(spark, TestSpark.sf), Map("lsh" -> 1.01))
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(!ann("lsh") && ann("ivf"),
      s"ann recall_ok must fail exactly the impossible floor: $ann")
    // negative tolerance is unsatisfiable by definition (at tiny-SF
    // cardinalities HLL++'s sparse mode is EXACT, so zero tolerance can
    // legitimately pass — the falsifier must be impossible, not tight)
    assert(!graft.operators.Relational
      .qApproxDistinctCheck(spark, TestSpark.sf, tol = -1.0)
      .head().getBoolean(2), "approx-distinct all_within must fail at negative tolerance")
    // zero rank slack: the digest returns elements, exact interpolates
    assert(!graft.operators.Relational
      .qApproxPercentilesCheck(spark, TestSpark.sf, rankSlack = 0.0)
      .head().getBoolean(2), "approx-percentile all_within must fail at zero slack")
  }

  test("snapshot diff/apply treat null-body docs by presence, not hash nullity") {
    import spark.implicits._
    import graft.operators.Snapshot
    // doc 2: null body on BOTH sides — unchanged, must not appear;
    // doc 3: body -> null — changed; doc 4: null -> body — changed
    val oldM = Seq((1L, Option("a")), (2L, None), (3L, Option("c")), (4L, None))
      .toDF("doc_id", "h")
    val newM = Seq((1L, Option("a")), (2L, None), (3L, None), (4L, Option("d")))
      .toDF("doc_id", "h")
    val got = Snapshot.diff(oldM, newM).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(3L -> "changed", 4L -> "changed"))
    // and the round-trip identity holds for a null-body delivery
    val oldS = Seq((1L, Option("one body")), (2L, None)).toDF("doc_id", "text")
    val newS = Seq((1L, Option("one body")), (2L, Option("two body")),
      (5L, None)).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val applied = Snapshot.applyDelta(oldS, Snapshot.diff(m(oldS), m(newS)), newS)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(applied == Seq(1L -> Some("one body"), 2L -> Some("two body"), 5L -> None))
  }

  test("incremental_clean equals the full recompute on a null-bearing corpus") {
    import spark.implicits._
    val oldS = Seq((1L, Option("the cat sat on the mat")), (2L, None), (3L, Option("")))
      .toDF("doc_id", "text")
    val newS = Seq((1L, Option("the cat sat on the mat")), (2L, Option("now a body")),
      (3L, None)).toDF("doc_id", "text")
    val full = graft.operators.Corpus.cleanCorpusDocs(newS).collect().toSeq
    val inc = graft.operators.Snapshot.incrementalCleanFrom(oldS, newS).collect().toSeq
    assert(inc.map(_.toSeq) == full.map(_.toSeq))
  }

  test("sample_topk_hash never admits null-body docs") {
    val out = graft.operators.Corpus.sampleTopKHash(docsWithNull, k = 10).collect()
    assert(out.nonEmpty && out.forall(!_.isNullAt(1)))
    assert(!out.map(_.getLong(0)).contains(2L))
  }

  test("near-dup ingest keeps signature-less short docs and still flags real dups") {
    // the sketch's documented domain boundary: a doc with < 3 tokens has
    // no 3-shingle, hence no signature — identical short docs can never
    // be flagged (the check twin excludes them from pigeonhole for the
    // same reason), and their presence must not crash the chains or
    // perturb the real near-dups around them
    import spark.implicits._
    val long1 = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_robust")
    try {
      val stage = s"$dir/stage"
      // shorts 1 and 6 are IDENTICAL, split across the arrivals
      // (6 % 5 != 0 lands first, 5 % 5 == 0 second); 2 and 7 are a real
      // exact-dup pair, also split across arrivals. Doc 3 (%20==3) is a
      // SHORT doc too, so its staged negative-id shadow is equally
      // signature-less: the final removal epoch then has an EMPTY blast
      // radius (a signature-less doc can be nobody's partner) — the
      // zero-affected removal path, empty delta dir and all, must not
      // crash or leave the shadow behind
      Seq((6L, "tiny doc"), (5L, "tiny doc"), (1L, ""), (3L, "tiny doc"),
        (2L, long1), (7L, long1))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve("documents.parquet"))
      val got = graft.streaming.Events.ingestNearDup(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      assert(got.size == 6, s"a doc lost its verdict row: $got")
      assert(got.forall(_._1 >= 0), s"the removed shadow survived: $got")
      assert(got.filter(!_._2) == Seq((7L, false, 2L)),
        s"only the real dup should drop: $got")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("classifier ingest survives a tiny single-class bootstrap") {
    // 6 docs, none with a repeated 'spark' → ALL labels negative: the
    // logistic trainer must converge to the majority predictor without
    // NaN/Inf (full-batch GD on a constant label is a pure bias fit)
    // and still score the late arrival with probabilities in [0,1]
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_classify_robust")
    try {
      val stage = s"$dir/stage"
      ((Seq(1L, 2L, 3L, 4L, 6L) :+ 5L).map(i =>
        (i, s"plain filler words number $i nothing repeated here")))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve("documents.parquet"))
      val got = graft.streaming.Events.ingestClassify(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(3), r.getBoolean(4)))
      assert(got.length == 6, s"a doc lost its score row: ${got.toSeq}")
      assert(got.forall(r => !r._2 && !r._4), s"spurious positive: ${got.toSeq}")
      assert(got.forall(r => r._3 >= 0.0 && r._3 <= 1.0 && !r._3.isNaN),
        s"probability out of range: ${got.toSeq}")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("ANN ingest trains what the tiny first arrival affords (fewer vectors than cells)") {
    // kmeansLite documents that a sample smaller than nCells trains that
    // many cells and callers must size off the RETURNED length — pin
    // that contract through the whole streaming loop: 12 corpus vectors
    // against the default 16-cell request must bootstrap, append, and
    // answer queries without error, k-capped by the corpus
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    def vec(seed: Int) = Array.fill(4)(rnd.nextFloat() + seed)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_robust")
    try {
      val stage = s"$dir/stage"
      ((0L until 10L).map(i => (i, vec(i.toInt % 3).toSeq)) ++
        (10L until 22L).map(i => (i, vec(i.toInt % 3).toSeq)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve("embeddings.parquet"))
      val got = graft.streaming.Events.ingestAnnIvf(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      // every query answered with k rows, neighbors only from the corpus
      assert(got.map(_._1).distinct.size == 10, s"missing queries: $got")
      assert(got.size == 50 && got.forall(_._2 >= 10L), s"bad neighbors: $got")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("dedup and decontam pipelines drop null/empty docs instead of crashing") {
    // shingle-based ops: null/short docs have no 3-gram → silently absent
    assert(Dedup.ngramJaccard(docsWithNull).count() == 0)
    assert(Dedup.substringSpans(docsWithNull, 3).count() == 0)
    assert(Training.decontamBloom(docsWithNull).count() == 0)
    // exact dedup groups by md5(text): null text is its own group — it
    // must survive (a crawl's null rows still need exactly-one-kept)
    assert(Dedup.exact(docsWithNull).count() == 4)
  }
}
