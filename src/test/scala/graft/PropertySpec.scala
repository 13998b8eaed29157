package graft

import graft.streaming.{Chain, ChainStore, Fold}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Randomized property tests (seeded — deterministic) pinning the native
  * expressions to their composed / reference formulations across the
  * input space; the unit specs cover the curated cases.
  */
class PropertySpec extends AnyFunSuite {

  private val WsChars = " \t\n\u000B\f\r"

  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val alphabet = "abcXYZ019.- \t\n\u000B"
    (0 until n).map { _ =>
      val len = rng.nextInt(60)
      (0 until len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
  }

  test("sketch percentiles land inside the exact ±1% quantile band") {
    // approx_percentile returns an ACTUAL data value (no interpolation),
    // so in a sparse tail it can legitimately sit far from the
    // interpolated exact p — the right property is rank accuracy: the
    // sketch's answer must lie between the exact (p-1%) and (p+1%)
    // quantiles of the same group
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val bands = Tables.events(spark, TestSpark.sf)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.49)").as("lo50"), expr("percentile(value, 0.51)").as("hi50"),
        expr("percentile(value, 0.94)").as("lo95"), expr("percentile(value, 0.96)").as("hi95"),
        expr("percentile(value, 0.98)").as("lo99"), expr("percentile(value, 1.0)").as("hi99"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)), (r.getDouble(3), r.getDouble(4)),
          (r.getDouble(5), r.getDouble(6)))).toMap
    val approx = graft.operators.Relational.qApproxPercentiles(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == bands.keySet)
    for ((k, (b50, b95, b99)) <- bands; (a50, a95, a99) = approx(k)) {
      assert(a50 >= b50._1 && a50 <= b50._2, s"$k p50 $a50 outside $b50")
      assert(a95 >= b95._1 && a95 <= b95._2, s"$k p95 $a95 outside $b95")
      assert(a99 >= b99._1 && a99 <= b99._2, s"$k p99 $a99 outside $b99")
    }
  }

  test("minhashSig kernel equals the reference min-fold on random shingle sets") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rng = new scala.util.Random(7L)
    for (_ <- 0 until 300) {
      val n = rng.nextInt(40)
      val shingles = Array.fill(n)(rng.nextLong())
      val got = graft.functions.Shingles.minhashSig(ArrayData.toArrayData(shingles), 16)
      if (n == 0) assert(got == null)
      else {
        val expect = (0 until 16).map { i =>
          shingles.map { s =>
            s.toDouble + i.toDouble * XXH64.hashInt(1, XXH64.hashLong(s, 42L)).toDouble
          }.min
        }
        assert(got.toDoubleArray().toSeq == expect, s"shingles=${shingles.toSeq}")
      }
    }
  }

  test("BPE tokenize round-trips random words through train + applyMerges") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rng = new scala.util.Random(11L)
    val words = (0 until 60).map(_ =>
      (0 until (1 + rng.nextInt(6))).map(_ => "abcd"(rng.nextInt(4))).mkString)
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = graft.operators.Bpe.train(docs, numMerges = 12, batchSize = 4)
    assert(merges == graft.operators.Bpe.train(docs, numMerges = 12),
      "batched table diverged from serial on a random corpus")
    // every word reconstructs from its tokens, and corpus-wide tokenize
    // agrees with the driver-side reference word for word
    val got = graft.operators.Bpe.tokenize(docs, merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    for ((id, toks) <- got) {
      val w = words(id.toInt)
      assert(toks == graft.operators.Bpe.applyMerges(w, merges), s"word=$w")
      assert(toks.mkString.stripSuffix("</w>") == w, s"reconstruction of $w")
    }
  }

  /** Fold the `(k, v, n)` LWW chain `root/sink` through its store. */
  private def foldKvn(root: java.nio.file.Path): Unit = {
    val chain = Chain("sink", StructType(Seq(StructField("k", StringType),
      StructField("v", LongType), StructField("n", LongType))), fold = Fold.Lww)
    new ChainStore(root, "k", Seq(chain)).fold(TestSpark.spark, Seq(chain), None)
  }

  test("delta-chain compaction preserves random LWW relations") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val rng = new scala.util.Random(23L)
    for (trial <- 0 until 5) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_compact_prop_$trial")
      val sink = root.resolve("sink")
      try {
        val nEpochs = 2 + rng.nextInt(4)
        for (e <- 0 until nEpochs) {
          val rows = (0 until 1 + rng.nextInt(8)).map(_ =>
            (s"k${rng.nextInt(6)}", rng.nextLong(), e.toLong)).distinct
          rows.toDF("k", "v", "n").dropDuplicates("k")
            .write.parquet(s"$sink/batch=$e")
        }
        def lww() = spark.read.parquet(sink.toString)
          .groupBy(col("k"))
          .agg(max_by(struct(col("v"), col("n")), col("batch")).as("s"))
          .select(col("k"), col("s.v"), col("s.n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val before = lww()
        foldKvn(root)
        assert(lww() == before, s"trial $trial: consumer relation changed")
        val dirs = new java.io.File(sink.toString).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch=")).length
        assert(dirs == 1, s"trial $trial: $dirs delta dirs remain")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("compaction recovers random chains from random crash states losslessly") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val rng = new scala.util.Random(31L)
    for (trial <- 0 until 6) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_crash_prop_$trial")
      val sink = root.resolve("sink")
      try {
        val nEpochs = 2 + rng.nextInt(4)
        for (e <- 0 until nEpochs) {
          (0 until 1 + rng.nextInt(8)).map(_ =>
            (s"k${rng.nextInt(6)}", rng.nextLong(), e.toLong)).distinct
            .toDF("k", "v", "n").dropDuplicates("k")
            .write.parquet(s"$sink/batch=$e")
        }
        def lww() = spark.read.parquet(sink.toString)
          .groupBy(col("k"))
          .agg(max_by(struct(col("v"), col("n")), col("batch")).as("s"))
          .select(col("k"), col("s.v"), col("s.n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val truth = lww()
        val maxE = nEpochs - 1
        // plant one of the three recoverable crash states at random
        rng.nextInt(3) match {
          case 0 => // mid-swap: snapshot complete, newest delta aside
            lww().toSeq.toDF("k", "v", "n").write.parquet(s"$sink/_compact_tmp")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$sink/_compact_tmp/_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.move(
              java.nio.file.Paths.get(s"$sink/batch=$maxE"),
              java.nio.file.Paths.get(s"$sink/_compact_old"))
          case 1 => // pre-swap: stale-but-complete snapshot, chain intact
            Seq(("stale", 0L, 0L)).toDF("k", "v", "n")
              .write.parquet(s"$sink/_compact_tmp")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$sink/_compact_tmp/_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case 2 => // torn snapshot write: no marker yet
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(s"$sink/_compact_tmp"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$sink/_compact_tmp/part-0.parquet"),
              Array[Byte](9, 9, 9))
        }
        foldKvn(root)
        assert(lww() == truth, s"trial $trial: crash recovery lost data")
        val leftovers = new java.io.File(sink.toString).listFiles().map(_.getName)
          .filterNot(_ == s"batch=$maxE")
        assert(leftovers.isEmpty, s"trial $trial: $leftovers")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("multi-chain tombstoned compaction survives random crash states losslessly") {
    // the compactor guarding streamIncrementalClean's three state chains
    // (corpus/postings/manifest share ONE tombstone dir): random epochs
    // of arrivals with random re-deliveries (tombstoned, as the loop
    // writes them — every chain carries the arrival's rows, so the
    // shared tombstone is consistent), a random crash state planted in
    // one random chain, then one store fold over all of them —
    // per-chain resolution must be byte-identical before and after,
    // every chain pruned to one base dir, tombstones consumed, and a
    // second run a no-op. The single-chain fuzz above covers the plain
    // LWW compactor; this one covers the tombstoned multi-chain form.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(41L)
    for (trial <- 0 until 5) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_tchain_prop_$trial")
      try {
        val tomb = s"$root/tombstones"
        val nChains = 2 + rng.nextInt(2)
        val chains = (0 until nChains).map(c => s"$root/chain$c")
        val schema = StructType(Seq(StructField("doc_id", LongType), StructField("s", StringType)))
        val chainOf = chains.zipWithIndex.map { case (d, c) => d -> Chain(s"chain$c", schema) }.toMap
        val store = new ChainStore(root, "doc_id", chainOf.values.toSeq)
        val nEpochs = 2 + rng.nextInt(3)
        val seen = scala.collection.mutable.Set.empty[Long]
        for (e <- 0 until nEpochs) {
          val fresh = (0 until 1 + rng.nextInt(4)).map(_ => rng.nextInt(40).toLong)
            .distinct.filterNot(seen)
          val redelivered = rng.shuffle(seen.toSeq).take(rng.nextInt(1 + seen.size / 2))
          val arrivals = (fresh ++ redelivered).distinct
          for ((dir, c) <- chains.zipWithIndex) {
            // postings-like: 1-2 rows per arrival key, chain-specific payload
            arrivals.flatMap(k => (0 until 1 + rng.nextInt(2))
              .map(i => (k, s"c$c-e$e-k$k-$i")))
              .toDF("doc_id", "s").write.parquet(s"$dir/batch=$e")
          }
          if (redelivered.nonEmpty)
            redelivered.map(Tuple1(_)).toDF("doc_id").write.parquet(s"$tomb/batch=$e")
          seen ++= arrivals
        }
        // MULTISET comparison (sorted, with multiplicity — r13 review):
        // the duplicate-row corruption a mid-swap/mid-prune crash can
        // produce on a whole-row chain is invisible to a Set
        def resolved(dir: String): Seq[(Long, String)] =
          store.resolved(spark, chainOf(dir))
            .select(col("doc_id"), col("s"))
            .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
        val truth = chains.map(d => d -> resolved(d)).toMap
        // plant one recoverable crash state in one random chain (trial
        // 0 always plants the mid-prune state — the newest case)
        val victim = chains(rng.nextInt(nChains))
        val maxE = nEpochs - 1
        (if (trial == 0) 3 else rng.nextInt(4)) match {
          case 3 =>
            // mid-PRUNE: the swap completed (folded base at maxE, the
            // marker travels inside it) but the crash hit before the
            // old deltas were deleted — on a whole-row chain they are
            // consumed duplicates the entry-point recovery must prune,
            // or the re-fold bakes every pre-fold row in twice
            val fold = store.resolved(spark, chainOf(victim))
              .select(col("doc_id"), col("s")).collect()
              .map(r => (r.getLong(0), r.getString(1))).toSeq
            val target = java.nio.file.Paths.get(s"$victim/batch=$maxE")
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(target)
              .sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
            fold.toDF("doc_id", "s").write.parquet(target.toString)
            java.nio.file.Files.write(
              target.resolve("_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case 0 => // mid-swap: snapshot complete, newest delta aside
            resolved(victim).toDF("doc_id", "s")
              .write.parquet(s"$victim/_compact_tmp")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$victim/_compact_tmp/_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.move(
              java.nio.file.Paths.get(s"$victim/batch=$maxE"),
              java.nio.file.Paths.get(s"$victim/_compact_old"))
          case 1 => // pre-swap: stale-but-complete snapshot, chain intact
            Seq((99L, "stale")).toDF("doc_id", "s")
              .write.parquet(s"$victim/_compact_tmp")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$victim/_compact_tmp/_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case 2 => // torn snapshot write: no marker yet
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(s"$victim/_compact_tmp"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$victim/_compact_tmp/part-0.parquet"),
              Array[Byte](9, 9, 9))
        }
        store.fold(spark, chains.map(chainOf), None)
        def dirsOf(p: String): Set[String] =
          Option(new java.io.File(p).listFiles())
            .map(_.filter(f => f.isDirectory && f.getName.startsWith("batch="))
              .map(_.getName).toSet).getOrElse(Set.empty)
        for (d <- chains) {
          assert(resolved(d) == truth(d), s"trial $trial: $d lost data")
          assert(dirsOf(d) == Set(s"batch=$maxE"), s"trial $trial: $d not pruned: ${dirsOf(d)}")
        }
        assert(dirsOf(tomb).isEmpty, s"trial $trial: tombstones not consumed: ${dirsOf(tomb)}")
        // idempotent on the compacted store
        store.fold(spark, chains.map(chainOf), None)
        chains.foreach(d => assert(resolved(d) == truth(d), s"trial $trial: recompact drifted"))
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("RollingHash.compute equals the reference fold on random strings") {
    for (s <- randomTexts(1L, 500)) {
      val expected = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
      assert(graft.functions.RollingHash.compute(UTF8String.fromString(s)) == expected, s"text=$s")
    }
  }

  test("TokenStats equals regex-split semantics on random strings") {
    for (s <- randomTexts(2L, 500)) {
      val row = graft.functions.TokenStats.compute(UTF8String.fromString(s))
      assert(row.getLong(0) == s.split("\\s+").count(_.nonEmpty).toLong, s"tokens of $s")
      assert(row.getLong(1) == s.count(c => !WsChars.contains(c)).toLong, s"nonws of $s")
    }
  }

  /** Text pieces for the word-count tokenizer: ASCII alphanumerics and
    * punctuation, the six Java `\s` chars, NBSP and U+2028 (which Java's
    * `\s` does NOT match), multi-byte UTF-8 (2-, 3- and 4-byte, the last
    * a surrogate pair), a lone surrogate, NUL and "--".
    */
  private val wcPiece: org.scalacheck.Gen[String] = {
    import org.scalacheck.Gen
    Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".map(_.toString)),
      4 -> Gen.oneOf(WsChars.map(_.toString)),
      1 -> Gen.oneOf("\u00A0", "\u2028", "é", "中", "😀", "\uD800", "\u0000", "--", "\r\n"))
  }
  private val wcText: org.scalacheck.Gen[String] =
    org.scalacheck.Gen.frequency(
      1 -> org.scalacheck.Gen.const(""),
      9 -> org.scalacheck.Gen.listOf(wcPiece).map(_.mkString))

  /** The composed regex form the kernel replaces, on the JVM. */
  private def regexWords(t: String): Seq[String] =
    t.replaceAll("[^0-9a-zA-Z\\s]", "").split("\\s+", -1).toSeq.filter(_.nonEmpty)

  test("WordTokens kernel equals the regexp_replace/split/filter word count tokens on random strings") {
    import org.scalacheck.{Prop, Test}
    import org.scalacheck.rng.Seed
    val prop = Prop.forAll(wcText) { t =>
      val got = graft.functions.WordTokens.tokenize(UTF8String.fromString(t))
        .array.toSeq.map(_.toString)
      Prop(got == regexWords(t)) :| s"text=${t.map(c => f"\\u${c.toInt}%04x").mkString}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(Seed(21L)), prop)
    assert(res.passed, s"$res")
    // the same relation through Spark, null texts included: the kernel's
    // column equals the composed column row for row (null for null)
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = org.scalacheck.Gen.listOfN(400, org.scalacheck.Gen.option(wcText))
      .apply(org.scalacheck.Gen.Parameters.default, Seed(22L)).get
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val rows = df.select(col("i"),
        graft.functions.WordTokens.wordTokens(col("t")).as("k"),
        filter(split(regexp_replace(col("t"), "[^0-9a-zA-Z\\s]", ""), "\\s+"),
          w => w =!= "").as("r"))
      .collect()
    assert(rows.length == texts.length && texts.contains(None))
    for (r <- rows) {
      val k = Option(r.getSeq[String](1))
      val want = Option(r.getSeq[String](2))
      assert(k == want, s"row ${r.getInt(0)}: text=${texts(r.getInt(0))}")
      assert(k.isEmpty == texts(r.getInt(0)).isEmpty)
    }
  }

  test("TopKAgg buffer equals sort-take on random score streams") {
    val rng = new scala.util.Random(3L)
    for (_ <- 0 until 300) {
      val xs = Seq.fill(rng.nextInt(40))((rng.nextDouble() * 2 - 1, rng.nextInt(50).toLong))
      val k = 5
      val buf = new graft.functions.TopKAgg.Buffer(k)
      xs.foreach { case (s, id) => buf.insert(s, id) }
      val got = (0 until buf.size).map(i => (buf.scores(i), buf.ids(i)))
        .sortBy { case (s, id) => (-s, id) }
      val expected = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(got == expected, s"stream=$xs")
    }
  }

  test("shingle hashes: deterministic, bounded by token count, match composed hashes") {
    for (s <- randomTexts(4L, 300)) {
      val u = UTF8String.fromString(s)
      val a = graft.functions.Shingles.shingleHashes(u, 3)
      assert(a.array.toSeq == graft.functions.Shingles.shingleHashes(u, 3).array.toSeq)
      val toks = s.split("\\s+").filter(_.nonEmpty)
      assert(a.numElements() <= math.max(0, toks.length - 2), s"text=$s")
      if (toks.length >= 3) {
        val expected = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
          .map(sh => org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUTF8String(UTF8String.fromString(sh), 42L))
        assert(a.array.toSeq == expected, s"text=$s")
      }
    }
  }

  test("snapshot diff/apply round-trip identity on random snapshot pairs") {
    // for ANY (old, new) snapshot pair — random bodies, random overlap,
    // null bodies included — apply(old, diff(old, new), new) == new, and
    // diff statuses partition exactly into the set-theoretic truth
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val rng = new scala.util.Random(0xd1ff)
    def snapshot(ids: Seq[Long], texts: Map[Long, Option[String]]) =
      ids.map(i => (i, texts(i))).toDF("doc_id", "text")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    for (round <- 1 to 5) {
      val universe = (1L to 40L)
      val bodiesOld = universe.map(i => i -> (if (rng.nextInt(10) == 0) None
        else Some(s"body ${rng.nextInt(6)} of doc"))).toMap
      val bodiesNew = universe.map(i => i -> (if (rng.nextInt(10) == 0) None
        else Some(s"body ${rng.nextInt(6)} of doc"))).toMap
      val oldIds = universe.filter(_ => rng.nextBoolean())
      val newIds = universe.filter(_ => rng.nextBoolean())
      val oldS = snapshot(oldIds, bodiesOld)
      val newS = snapshot(newIds, bodiesNew)
      val delta = graft.operators.Snapshot.diff(manifest(oldS), manifest(newS))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // set-theoretic truth of each status
      val oldSet = oldIds.toSet; val newSet = newIds.toSet
      assert(delta.filter(_._2 == "added").keySet == newSet -- oldSet, s"round $round added")
      assert(delta.filter(_._2 == "removed").keySet == oldSet -- newSet, s"round $round removed")
      assert(delta.filter(_._2 == "changed").keySet ==
        (oldSet & newSet).filter(i => bodiesOld(i) != bodiesNew(i)), s"round $round changed")
      val applied = graft.operators.Snapshot
        .applyDelta(oldS, graft.operators.Snapshot.diff(manifest(oldS), manifest(newS)), newS)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toSeq.sortBy(_._1)
      val expected = newIds.sorted.map(i => i -> bodiesNew(i))
      assert(applied == expected, s"round $round round-trip broke")
    }
  }

  test("incremental ledger equals the from-scratch ledger on random edited corpora") {
    // The pair-graph closure's soundness argument (complete components,
    // carry-forward, canonical re-election) exercised across random
    // graph shapes the sf testdata barely reaches: Jaccard CHAINS that
    // need multi-round BFS, clusters bridged by added docs, min-id
    // canonical members removed. Each trial builds 8 clusters of 40-token
    // docs where adjacent chain links differ in ONE token (J≈0.85 ≥ 0.8)
    // but links two apart differ in two (J≈0.73 < 0.8), plants a
    // corpus-ubiquitous trigram in EVERY doc (the shared-shingle
    // degeneracy the Jaccard filter must ignore), then derives the old
    // snapshot by randomly dropping (~20%, delta 'added'), mutating
    // (~20%, 'changed'), and appending old-only docs ('removed'). The
    // incremental next ledger must equal Corpus.ledger recomputed from
    // scratch, all five columns, row for row.
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Corpus, Snapshot}
    // Uncapped trials only here; the maxShingleDf cap needs the prior
    // posting index for delta-stability (cap crossings) and is fuzzed
    // by its own chained-epoch test below.
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 3) {
      val docs = scala.collection.mutable.ListBuffer.empty[(Long, String)]
      var id = 0L
      for (c <- 1 to 8) {
        val len = 1 + rnd.nextInt(4)
        val base = Array.tabulate(40)(i => s"c${c}t${i}x$trial")
        val at = rnd.nextInt(37)
        base(at) = "the"; base(at + 1) = "end"; base(at + 2) = "of"
        var cur = base.clone()
        for (k <- 0 until len) {
          if (k > 0) {
            var p = rnd.nextInt(40)
            while (p >= at && p <= at + 2) p = rnd.nextInt(40)
            cur = cur.clone(); cur(p) = s"mut${c}k${k}x$trial"
          }
          id += 1; docs += id -> cur.mkString(" ")
        }
      }
      val newDocs = docs.toSeq.toDF("doc_id", "text")
      val maxId = id
      val old = docs.toSeq.flatMap { case (i, t) =>
        rnd.nextInt(5) match {
          case 0 => None // absent from old → 'added' in the delta
          case 1 => Some(i -> (t + s" zz${rnd.nextInt(100)} extra tail tokens")) // 'changed'
          case _ => Some(i -> t)
        }
      } ++ (1 to 4).map(j => (maxId + j) -> s"retired document body number $j with padding")
      val oldDocs = old.toDF("doc_id", "text")
      Scope.around { scope =>
        val prior = scope.checkpoint(Corpus.ledger(oldDocs))
        val got = Snapshot.incrementalLedgerFromState(prior, Snapshot.manifest(oldDocs), newDocs)
          .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
        val want = Corpus.ledger(newDocs).orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
        assert(got.nonEmpty && got == want,
          s"trial $trial: incremental next ledger diverged from the from-scratch recompute")
      }
    }
  }

  /** Window-corpus generator of the capped fuzz's chains: docs are
    * random windows (5-9 tokens) of two 18-token base sequences unique
    * to `tag`, so shingle document frequencies crowd a small cap and
    * random edits push them across constantly. */
  private def windowDoc(rnd: scala.util.Random, tag: String): () => String = {
    val bases = Array.tabulate(2)(b => Array.tabulate(18)(i => s"${tag}b${b}w$i"))
    () => {
      val b = bases(rnd.nextInt(2))
      val len = 5 + rnd.nextInt(5)
      val at = rnd.nextInt(b.length - len + 1)
      b.slice(at, at + len).mkString(" ")
    }
  }

  /** One capped chain over the CHAIN form the capped loop runs: a
    * 10-doc bootstrap, then 3 random edit epochs. Each epoch calls
    * incrementalLedgerDeltaCheckpointedCapped with the PREVIOUS epoch's
    * returned hot set (bootstrap included: epoch 0 flows through the
    * same call with empty prior state), asserts the advanced hot set
    * equals the from-scratch hot derivation, and reassembles the full
    * next ledger (delta ∪ carry, the stored-state carry fence) against
    * Corpus.ledger(cur, cap), all five columns, row for row. Returns
    * (summed hot-set sizes, epochs the hot set moved, cap crossings
    * between consecutive edit epochs). */
  private def cappedChain(rnd: scala.util.Random, cap: Int, tag: String,
                          label: String): (Long, Int, Long) = {
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Corpus, Dedup, Snapshot}
    // independent non-vacuity meter: global per-shingle df on each
    // side, counted with the spec's own groupBy
    def dfMap(docs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Snapshot.postings(docs).groupBy(col("s")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val window = windowDoc(rnd, tag)
    val cur = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    var nextId = 1L
    def currentDF() = cur.toSeq.toDF("doc_id", "text")
    Scope.around { chain =>
      var oldDocs = currentDF() // empty at bootstrap
      var prior = chain.checkpoint(Corpus.ledger(oldDocs)) // empty ledger
      var hot = chain.checkpoint(Snapshot.postings(oldDocs).select(col("s")).limit(0))
      var hotSeen = 0L
      var hotMoves = 0
      var crossingsSeen = 0L
      var prevHot: Option[Set[Long]] = None
      for (epoch <- 0 to 3) {
        if (epoch == 0) for (_ <- 1 to 10) { cur(nextId) = window(); nextId += 1 }
        else {
          for (id <- cur.keys.toSeq) rnd.nextInt(10) match {
            case 0 | 1 | 2 => cur(id) = window() // 'changed'
            case 3 => if (cur.size > 4) cur.remove(id) // 'removed'
            case _ => ()
          }
          for (_ <- 0 to rnd.nextInt(2)) { cur(nextId) = window(); nextId += 1 } // 'added'
        }
        val newDocs = currentDF()
        val oldSnap = oldDocs
        val idx = chain.persist(Snapshot.postings(newDocs))
        val (deltaRows, hotNext) = Snapshot.incrementalLedgerDeltaCheckpointedCapped(
          prior, Snapshot.manifest(oldSnap), Snapshot.manifest(newDocs),
          _ => Snapshot.InMemoryPostings(idx),
          ids => newDocs.join(ids, Seq("doc_id"), "left_semi"),
          25, cap, hot,
          ids => Snapshot.postings(oldSnap).join(ids, Seq("doc_id"), "left_semi"),
          Snapshot.InMemoryPostings(idx).forDocs, chain)
        // the advanced hot set must equal the from-scratch derivation —
        // the induction's per-epoch exactness claim, checked directly
        val wantHot = Dedup.hotShingles(idx, cap).collect().map(_.getLong(0)).toSet
        val gotHot = hotNext.collect().map(_.getLong(0)).toSet
        assert(gotHot == wantHot,
          s"$label epoch $epoch: advanced hot set $gotHot != from-scratch $wantHot")
        hotSeen += gotHot.size
        if (prevHot.exists(_ != gotHot)) hotMoves += 1
        prevHot = Some(gotHot)
        // full next ledger = recomputed delta ∪ carried prior rows
        // (closure ids == deltaRows ids; removed ids fenced by the delta)
        val deltaIds = Snapshot.diff(Snapshot.manifest(oldSnap), Snapshot.manifest(newDocs))
          .select(col("doc_id"))
        val next = chain.checkpoint(deltaRows.unionByName(
          prior.join(deltaRows.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .join(deltaIds, Seq("doc_id"), "left_anti")))
        val got = next.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
        val want = Corpus.ledger(newDocs, Some(cap)).orderBy(col("doc_id"))
          .collect().map(_.toSeq).toSeq
        assert(got.nonEmpty && got == want,
          s"$label epoch $epoch (cap=$cap): capped chain-form ledger diverged")
        if (epoch > 0) {
          val (dOld, dNew) = (dfMap(oldSnap), dfMap(newDocs))
          crossingsSeen += (dOld.keySet ++ dNew.keySet).count(s =>
            (dOld.getOrElse(s, 0L) > cap) != (dNew.getOrElse(s, 0L) > cap))
        }
        Seq(idx, prior, hot, deltaRows).foreach(chain.release)
        prior = next
        hot = hotNext
        oldDocs = newDocs
      }
      (hotSeen, hotMoves, crossingsSeen)
    }
  }

  test("capped incremental ledger equals the from-scratch capped ledger across random edit chains") {
    // The maxShingleDf delta-stability fuzz (VERDICT r14 #1): docs are
    // random windows of two SHARED base token sequences, so shingle
    // document frequencies crowd the cap and random edits push them
    // across constantly — the cap-crossing machinery fires on nearly
    // every epoch, not just in SnapshotSpec's engineered scenario. Two
    // trials with caps drawn from {2, 3}, each run through the capped
    // chain form; every epoch must equal Corpus.ledger(current, cap)
    // recomputed from scratch, and each trial must actually cross the
    // cap somewhere or it proves nothing.
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 2) {
      val cap = 2 + rnd.nextInt(2)
      val (_, _, crossingsSeen) = cappedChain(rnd, cap, s"t$trial", s"trial $trial")
      assert(crossingsSeen > 0,
        s"trial $trial (cap=$cap): no epoch crossed the cap — the fuzz is vacuous")
    }
  }

  test("capped chain-form ledger and hot-set induction converge across random edit epochs") {
    // The CHAIN form's extra claim: the hot set is not re-derived from
    // an index pass each epoch but ADVANCED — hot(e) = (hot(e-1) ∖
    // touched) ∪ {touched: df_new > cap} — and fed back, so an
    // induction error compounds. One cap-3 chain (seed 20260816): the
    // hot set must be non-empty somewhere (the cap binds) and must MOVE
    // across epochs (the advance is exercised beyond a no-op).
    val (hotSeen, hotMoves, _) = cappedChain(new scala.util.Random(20260816L), 3, "cf", "cap 3")
    assert(hotSeen > 0, s"cap 3 never bound a shingle — the fuzz is vacuous")
    assert(hotMoves > 0,
      "the hot set never changed across epochs — the advance was a no-op throughout")
  }

  test("ledger changelog delta + last-write-wins + retraction equals the full next ledger") {
    // The delta-chain contract of incrementalLedgerDeltaCheckpointed
    // (the write streamIncrementalClean appends per epoch), pinned on a
    // random edited corpus WITH removals — the one leg the streaming
    // harness can't stage (its file source only adds or re-delivers):
    // LWW-resolving [prior@0, delta@1] per doc_id and retracting the
    // removed ids (which the caller derives from its manifest diff,
    // O(|delta|)) must reproduce the from-scratch next ledger exactly.
    // Without the retraction the removed docs' prior rows win LWW and
    // resurface — the documented failure mode this test also pins.
    import org.apache.spark.sql.functions.{col, lit, max_by, struct}
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Corpus, Snapshot}
    val rnd = new scala.util.Random(20260814L)
    val docs = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    var id = 0L
    for (c <- 1 to 6) {
      val len = 1 + rnd.nextInt(4)
      val base = Array.tabulate(40)(i => s"c${c}w${i}")
      var cur = base.clone()
      for (k <- 0 until len) {
        if (k > 0) { cur = cur.clone(); cur(rnd.nextInt(40)) = s"mut${c}k$k" }
        id += 1; docs += id -> cur.mkString(" ")
      }
    }
    val newDocs = docs.toSeq.toDF("doc_id", "text")
    val maxId = id
    val old = docs.toSeq.flatMap { case (i, t) =>
      rnd.nextInt(5) match {
        case 0 => None
        case 1 => Some(i -> (t + s" zz${rnd.nextInt(100)} extra tail"))
        case _ => Some(i -> t)
      }
    } ++ (1 to 3).map(j => (maxId + j) -> s"retired document body number $j with padding")
    val oldDocs = old.toDF("doc_id", "text")
    Scope.around { scope =>
      val prior = scope.checkpoint(Corpus.ledger(oldDocs))
      val deltaRows = Snapshot.incrementalLedgerDeltaCheckpointed(
        prior, Snapshot.manifest(oldDocs), Snapshot.manifest(newDocs),
        _ => Snapshot.InMemoryPostings(Snapshot.postings(newDocs)),
        ids => newDocs.join(ids, Seq("doc_id"), "left_semi"), 25, scope)
      val valueCols = Seq("cluster_id", "n_tokens", "quality", "lang_pred")
      val chain = prior.withColumn("batch", lit(0))
        .unionByName(deltaRows.withColumn("batch", lit(1)))
      val removed = Snapshot.manifest(oldDocs).select(col("doc_id"))
        .join(newDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val resolved = chain.groupBy(col("doc_id"))
        .agg(max_by(struct(valueCols.map(col): _*), col("batch")).as("v"))
        .select(col("doc_id") +: valueCols.map(c => col(s"v.$c").as(c)): _*)
        .join(removed, Seq("doc_id"), "left_anti")
      val got = resolved.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      val want = Corpus.ledger(newDocs).orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(got.nonEmpty && got == want, "resolved changelog chain diverged from full ledger")
      // negative leg: skipping the retraction must resurface removed docs
      val unretracted = chain.groupBy(col("doc_id"))
        .agg(max_by(struct(valueCols.map(col): _*), col("batch")).as("v"))
        .count()
      assert(unretracted == want.size + 3,
        s"retraction negative-check: expected ${want.size} + 3 retired rows, got $unretracted")
    }
  }

  test("stored-state chains converge to the from-scratch ledger across 4 chained edit epochs") {
    // VERDICT r9 #4 (updated r12: the streaming harness now stages
    // three arrivals incl. a removal epoch). This drives the same
    // stored-state algebra streamIncrementalClean runs per
    // micro-batch — per-epoch delta chains for corpus / postings /
    // manifest, shared tombstones resolved as `batch >= max tombstone
    // epoch`, a changelog ledger resolved last-write-wins — through a
    // BOOTSTRAP plus 4 chained RANDOM edit epochs including the leg
    // the staged stream still can't reach (re-adds of previously
    // removed ids, which exercise tombstone-epoch ordering), feeding
    // each epoch's resolved state into the next. After EVERY epoch the
    // resolved corpus must equal the bookkept truth and the resolved
    // ledger must equal Corpus.ledger recomputed from scratch — the
    // chained test VERDICT r9 names as the one that catches a stored-
    // postings-state bug (a stale posting surviving a tombstone shows
    // up as a phantom pair-graph edge in some LATER epoch's closure).
    import org.apache.spark.sql.functions.{col, lit, max, max_by, struct}
    import org.apache.spark.sql.DataFrame
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Corpus, Snapshot}
    val seed = 20260814L
    info(s"chained-epoch seed=$seed")
    val rnd = new scala.util.Random(seed)

    // Corpus bookkeeping: doc_id -> 40-token array. Chain links differ
    // from their parent in ONE token (3-gram Jaccard ≈ 0.85 >= 0.8,
    // near-dup) but from their grandparent in two (≈ 0.73, not) — the
    // multi-round-BFS shape. Every doc plants the corpus-ubiquitous
    // trigram "the end of" (the shared-shingle degeneracy the Jaccard
    // filter must ignore).
    var nextId = 0L
    val toks = scala.collection.mutable.Map.empty[Long, Array[String]]
    def freshTokens(tag: String): Array[String] = {
      val base = Array.tabulate(40)(i => s"$tag-t$i")
      val at = rnd.nextInt(37)
      base(at) = "the"; base(at + 1) = "end"; base(at + 2) = "of"
      base
    }
    def add(tokens: Array[String]): Long = { nextId += 1; toks(nextId) = tokens; nextId }
    for (c <- 1 to 10) {
      var cur = freshTokens(s"c$c")
      add(cur)
      for (k <- 1 until 1 + rnd.nextInt(4)) {
        cur = cur.clone(); cur(rnd.nextInt(40)) = s"c${c}link$k"
        add(cur)
      }
    }
    def docsDF(ids: Iterable[Long]): DataFrame =
      ids.toSeq.sorted.map(i => i -> toks(i).mkString(" ")).toDF("doc_id", "text")
    def currentDF(): DataFrame = docsDF(toks.keys)

    // the four stored chains + the shared tombstone relation
    val corpusChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val postingsChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val manifestChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val ledgerChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val tombs = scala.collection.mutable.ListBuffer.empty[(Long, Int)]
    val everRemoved = scala.collection.mutable.Set.empty[Long]

    def maxTomb(): DataFrame = tombs.toSeq.toDF("doc_id", "tepoch")
      .groupBy(col("doc_id")).agg(max(col("tepoch")).as("mt"))
    // merge-on-read: a batch=p row is live iff p >= the doc's max
    // tombstone epoch — the liveChain predicate of the streaming loop
    def resolve(chain: Seq[(Int, DataFrame)]): DataFrame =
      chain.map { case (e, df) => df.withColumn("batch", lit(e)) }
        .reduce(_ unionByName _)
        .join(maxTomb(), Seq("doc_id"), "left")
        .filter(col("mt").isNull || col("batch") >= col("mt"))
        .drop("mt", "batch")
    // the ledger reader: last-write-wins per doc_id, then the same
    // tombstone gate (removals retract; re-delivered docs are always in
    // their epoch's closure so LWW alone would already supersede them)
    def resolvedLedger(): DataFrame = {
      val rows = ledgerChain
        .map { case (e, df) => df.withColumn("batch", lit(e)) }
        .reduce(_ unionByName _)
      val valueCols = rows.columns.filterNot(c => c == "doc_id" || c == "batch").toSeq
      rows.groupBy(col("doc_id"))
        .agg(max_by(struct(valueCols.map(col): _*), col("batch")).as("v"),
          max(col("batch")).as("b"))
        .join(maxTomb(), Seq("doc_id"), "left")
        .filter(col("mt").isNull || col("b") >= col("mt"))
        .select(col("doc_id") +: valueCols.map(c => col(s"v.$c").as(c)): _*)
    }

    // the chains' checkpoints live in `stored`, an epoch's own in `epoch`
    def runEpoch(e: Int, batch: DataFrame, removedIds: Seq[Long], stored: Scope): Long =
      Scope.around { epoch =>
        val (prior, priorManifest) =
          if (e == 0) (Corpus.ledger(batch.limit(0)), Snapshot.manifest(batch.limit(0)))
          else (resolvedLedger(), resolve(manifestChain.toSeq))
        val priorCk = epoch.checkpoint(prior)
        val priorManifestCk = epoch.checkpoint(priorManifest)
        // batchManifest stays referenced by manifestChain
        val batchManifest = stored.checkpoint(Snapshot.manifest(batch))
        // tombstones exactly as the foreachBatch derives them: prior-
        // manifest ids the batch re-delivers (a semi-join, O(|batch|))
        // plus the source's out-of-band removal feed
        val redelivered = priorManifestCk
          .join(batchManifest.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id")).collect().map(_.getLong(0))
        tombs ++= (redelivered ++ removedIds).map(_ -> e)
        corpusChain += e -> batch
        postingsChain += e -> stored.checkpoint(Snapshot.postings(batch))
        manifestChain += e -> batchManifest
        val nextManifest = epoch.checkpoint(resolve(manifestChain.toSeq))
        val postingsView = epoch.persist(resolve(postingsChain.toSeq))
        // the lifecycle-closed form the production loop runs — its
        // intermediates are released inside, the result arrives as
        // one eager checkpoint in the epoch's scope
        val corpus = resolve(corpusChain.toSeq)
        val delta = Snapshot.incrementalLedgerDeltaCheckpointed(
          priorCk, priorManifestCk, nextManifest, _ => Snapshot.InMemoryPostings(postingsView),
          ids => corpus.join(ids, Seq("doc_id"), "left_semi"), 25, epoch)
        // the production CARRY (ADVICE r12 high): a hash-unchanged
        // re-delivery seeds no recompute row while this epoch's
        // tombstone kills its older ledger rows — carry the prior
        // row forward AT this epoch unless the recompute already
        // re-emitted the doc (cluster neighborhood changed)
        val unchangedIds = priorManifestCk
          .join(batchManifest, Seq("doc_id", "h"), "left_semi")
          .select(col("doc_id"))
        val carried = priorCk.join(unchangedIds, Seq("doc_id"), "left_semi")
          .join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
        val deltaAll = stored.checkpoint(delta.unionByName(carried))
        epoch.release(delta)
        ledgerChain += e -> deltaAll
        deltaAll.count()
      }

    def assertConverged(e: Int): Unit = {
      val gotCorpus = resolve(corpusChain.toSeq).orderBy(col("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      val wantCorpus = toks.keys.toSeq.sorted.map(i => i -> toks(i).mkString(" "))
      assert(gotCorpus == wantCorpus, s"epoch $e: resolved corpus chain diverged")
      val got = resolvedLedger().orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      val want = Corpus.ledger(currentDF()).orderBy(col("doc_id"))
        .collect().map(_.toSeq).toSeq
      assert(got.nonEmpty && got == want,
        s"epoch $e: resolved ledger chain diverged from the from-scratch recompute")
    }

    // the chained checkpoints are released with `stored`
    Scope.around { stored =>
      // epoch 0: bootstrap — the whole corpus is one 'added' delta
      runEpoch(0, currentDF(), Seq.empty, stored)
      assertConverged(0)
      var nRemoved = 0; var nReadds = 0; var nChanged = 0; var nUnchangedRe = 0

      for (e <- 1 to 4) {
        val current = toks.keys.toSeq.sorted
        // re-add ONE previously-removed id with fresh text (tombstone-
        // epoch ordering: its new rows must outlive its old tombstone)
        val readds = everRemoved.toSeq.sorted.take(1).map { i =>
          everRemoved -= i; toks(i) = freshTokens(s"e${e}readd$i"); i
        }
        val removed = current.filter(_ => rnd.nextDouble() < 0.12)
        removed.foreach { i => toks.remove(i); everRemoved += i }
        val survivors = current.diff(removed)
        val changedMinor = survivors.filter(_ => rnd.nextDouble() < 0.10)
        changedMinor.foreach { i =>
          val t = toks(i).clone(); t(rnd.nextInt(40)) = s"e${e}m$i"; toks(i) = t
        }
        val changedMajor = survivors.diff(changedMinor).filter(_ => rnd.nextDouble() < 0.08)
        changedMajor.foreach { i => toks(i) = freshTokens(s"e${e}M$i") }
        // the unchanged re-crawl wave: re-delivered with IDENTICAL text —
        // reaches the ledger only through the carry (ADVICE r12 high)
        val unchangedRe = survivors.diff(changedMinor).diff(changedMajor)
          .filter(_ => rnd.nextDouble() < 0.10)
        // chain links off random survivors (extends — possibly bridges —
        // existing clusters) plus fresh singleton docs
        val parents = rnd.shuffle(toks.keys.toSeq.sorted).take(3)
        val links = parents.map { p =>
          val t = toks(p).clone(); t(rnd.nextInt(40)) = s"e${e}x$p"; add(t)
        }
        val fresh = (1 to 2).map(_ => add(freshTokens(s"e${e}new${nextId}")))
        val batchIds = (readds ++ changedMinor ++ changedMajor ++ unchangedRe ++
          links ++ fresh).distinct
        nRemoved += removed.size; nReadds += readds.size
        nChanged += changedMinor.size + changedMajor.size
        nUnchangedRe += unchangedRe.size
        val deltaRows = runEpoch(e, docsDF(batchIds), removed, stored)
        info(s"epoch $e: batch=${batchIds.size} removed=${removed.size} " +
          s"readds=${readds.size} unchanged-re=${unchangedRe.size} " +
          s"ledger-delta=$deltaRows corpus=${toks.size}")
        assertConverged(e)
      }
      // the seed must have exercised every edit leg at least once —
      // otherwise the chained run degenerates to the adds-only staging
      // the streaming harness already covers (reseed if this ever trips)
      assert(nRemoved > 0 && nReadds > 0 && nChanged > 0,
        s"seed $seed staged no removals/re-adds/changes ($nRemoved/$nReadds/$nChanged)")
      assert(nUnchangedRe > 0,
        s"seed $seed staged no identical-text re-deliveries — the carry leg is vacuous, reseed")
    }
  }

  test("near-dup ingest changelog converges to the batch verdict across random arrival, removal and re-delivery epochs") {
    // The stored-state algebra of stream_ingest_neardup — per-epoch band
    // and shingle chains, the verdict changelog with min-partner
    // retractions, tombstoned removals/re-deliveries, layered LWW —
    // driven through RANDOM arrival/removal/re-delivery epochs (the
    // streaming harness stages one fixed schedule). Doc ids are
    // assigned independently of arrival order, so smaller-id near-dups
    // routinely arrive AFTER their mates — the retraction path — and
    // near-dup groups straddle arrival boundaries arbitrarily. After
    // every epoch the resolved changelog must equal
    // Dedup.minhashNearDupVerdict over exactly the docs ingested so far
    // (both sides share the fixed-hash minhash perms, so equality is
    // exact, not statistical — an LSH miss is missed identically).
    import org.apache.spark.sql.functions.{col, lit, max_by, min, min_by, struct}
    import org.apache.spark.sql.DataFrame
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.Dedup
    val seed = 20260815L
    info(s"neardup-chain seed=$seed")
    val rnd = new scala.util.Random(seed)

    // 40-token docs: a 1-token mutation is a near-dup (J ≈ 0.854 ≥ 0.8),
    // plus exact copies (J = 1); every doc carries a planted common
    // trigram. ~18 base docs, ~40% spawning 1-2 dup mates.
    val texts = scala.collection.mutable.ListBuffer.empty[String]
    for (g <- 1 to 18) {
      val base = Array.tabulate(40)(i => s"g${g}w$i")
      val at = rnd.nextInt(37)
      base(at) = "the"; base(at + 1) = "end"; base(at + 2) = "of"
      texts += base.mkString(" ")
      if (rnd.nextDouble() < 0.4) {
        for (k <- 1 to 1 + rnd.nextInt(2)) {
          if (rnd.nextBoolean()) texts += base.mkString(" ") // exact copy
          else {
            val m = base.clone(); m(rnd.nextInt(40)) = s"g${g}mut$k"
            texts += m.mkString(" ")
          }
        }
      }
    }
    // ids shuffled independently of content, arrivals a random 4-part split
    val ids = rnd.shuffle((1L to texts.size.toLong).toList)
    val docs = ids.zip(texts)
    val arrivals = docs.groupBy(_ => rnd.nextInt(4)).toSeq.sortBy(_._1).map(_._2)
    assert(arrivals.size == 4 && arrivals.forall(_.nonEmpty), "degenerate split — reseed")

    // epoch-tagged chains + the tombstone map — the EXACT production
    // liveness predicate: a row is live iff its epoch >= its doc's max
    // tombstone epoch. Re-deliveries write new rows AT their tombstone
    // epoch (old rows die, new survive — the wholesale supersede);
    // removals write none (the tombstone is the whole retraction).
    val bandChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val shChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val verdictChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val current = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val tomb = scala.collection.mutable.Map.empty[Long, Int]
    var keepRetractions = 0L
    var reVerdicts = 0L
    var restoredKeeps = 0L
    var redeliveredCount = 0L
    var removedCount = 0L
    var identicalRe = 0L
    var mutatedRe = 0L
    def resolvedRows(chain: Seq[(Int, DataFrame)], keepEpoch: Boolean): DataFrame = {
      val rows = chain.map { case (ep, df) => df.withColumn("batch", lit(ep)) }
        .reduce(_ unionByName _)
      val live =
        if (tomb.isEmpty) rows
        else rows
          .join(org.apache.spark.sql.functions.broadcast(
            tomb.toSeq.toDF("doc_id", "te")), Seq("doc_id"), "left_outer")
          .filter(col("te").isNull || col("batch") >= col("te")).drop("te")
      if (keepEpoch) live else live.drop("batch")
    }
    def liveBands(): DataFrame = resolvedRows(bandChain.toSeq, keepEpoch = false)
    def liveSh(): DataFrame = resolvedRows(shChain.toSeq, keepEpoch = false)
    def lww(): DataFrame =
      resolvedRows(verdictChain.toSeq, keepEpoch = true)
        .groupBy(col("doc_id"))
        .agg(max_by(struct(col("partner_id"), col("jaccard")), col("batch")).as("v"))
        .select(col("doc_id"), col("v.partner_id").as("partner_id"),
          col("v.jaccard").as("jaccard"))
    def checkEpoch(e: Int): Unit = {
      val got = lww()
        .select(col("doc_id"), col("partner_id").isNull.as("keep"),
          col("partner_id"), col("jaccard"))
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      val want = Dedup.minhashNearDupVerdict(current.toSeq.toDF("doc_id", "text"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"epoch $e: changelog diverged from the batch verdict")
    }
    // ONE event processor running the streaming algebra verbatim:
    // arrivals may be NEW or RE-DELIVERED docs (ids the store already
    // holds — superseded wholesale via the tombstone), removals are
    // tombstone-only; the retirement blast radius (docs whose current
    // partner was removed or re-delivered) is re-verdicted from the
    // stored shingle sets against the live index.
    // the chains' checkpoints live in `stored`, an event's own in `event`
    def processEvent(e: Int, arrivalDocs: Seq[(Long, String)], removeIds: Set[Long],
                     stored: Scope): Unit = Scope.around { event =>
      val redeliv = arrivalDocs.map(_._1).filter(current.contains).toSet
      redeliveredCount += redeliv.size; removedCount += removeIds.size
      val retiredIds = removeIds ++ redeliv
      val hadPrior = verdictChain.nonEmpty
      retiredIds.foreach(id => tomb(id) = e)
      removeIds.foreach(current.remove)
      arrivalDocs.foreach { case (id, t) => current(id) = t }
      val batchDF = arrivalDocs.toDF("doc_id", "text")
      val batchSh = stored.checkpoint(Dedup.shingleHashSets(batchDF))
      val batchBands = stored.checkpoint(Dedup.bandRows(Dedup.minhashSignatures(batchSh)))
      shChain += e -> batchSh; bandChain += e -> batchBands
      val cand = Dedup.nearDupCandidates(batchBands, liveBands())
      val edges = Dedup.nearDupVerify(cand, liveSh())
      val newBest = event.checkpoint(edges.groupBy(col("b").as("doc_id"))
        .agg(min(col("a")).as("partner_id"), min_by(col("jaccard"), col("a")).as("jaccard")))
      val batchVerdict = batchDF.select(col("doc_id")).join(newBest, Seq("doc_id"), "left")
      val priorRaw =
        if (!hadPrior) newBest.withColumn("old_partner", lit(null)).limit(0)
        else event.checkpoint(newBest
          .join(batchDF.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .join(lww().select(col("doc_id"), col("partner_id").as("old_partner")), Seq("doc_id"))
          .filter(col("old_partner").isNull || col("partner_id") < col("old_partner")))
      // a prior KEEP (old partner null) flipped to a drop by a later
      // smaller-id arrival — counted separately from mere partner
      // improvements of already-dropped docs
      keepRetractions += priorRaw.filter(col("old_partner").isNull).count()
      val affDelta =
        if (retiredIds.isEmpty || !hadPrior) batchVerdict.limit(0)
        else {
          val affected = event.checkpoint(lww()
            .filter(col("partner_id").isin(retiredIds.toSeq: _*))
            .join(removeIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
            .join(batchDF.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .select(col("doc_id")))
          val affSh = liveSh().join(affected, Seq("doc_id"), "left_semi")
          val affBands = Dedup.bandRows(Dedup.minhashSignatures(affSh))
          val cand2 = Dedup.nearDupCandidates(affBands, liveBands())
          val best2 = Dedup.nearDupVerify(cand2, liveSh())
            .groupBy(col("b").as("doc_id"))
            .agg(min(col("a")).as("partner_id"),
              min_by(col("jaccard"), col("a")).as("jaccard"))
          val d2 = event.checkpoint(affected.join(best2, Seq("doc_id"), "left")
            .select(col("doc_id"), col("partner_id"), col("jaccard")))
          reVerdicts += d2.count()
          restoredKeeps += d2.filter(col("partner_id").isNull).count()
          d2
        }
      val delta = stored.checkpoint(batchVerdict
        .unionByName(priorRaw.select(col("doc_id"), col("partner_id"), col("jaccard")))
        .unionByName(affDelta))
      verdictChain += e -> delta
    }
    def partnersNow(): Seq[Long] = lww().filter(col("partner_id").isNotNull)
      .select(col("partner_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    // schedule: arrivals interleaved with REMOVAL epochs, and the later
    // arrivals each RE-DELIVER a current PARTNER doc (guaranteed
    // dependents whose edge to it must be re-scored or dropped) — the
    // first re-delivery byte-identical (the unchanged re-crawl), the
    // second a mutated copy (the edge-erasing kind). Removals pick a
    // current partner plus a bystander.
    // the chains' checkpoints are released with `stored`
    Scope.around { stored =>
      var e = 0
      for ((arrival, k) <- arrivals.zipWithIndex) {
        val redeliv: Seq[(Long, String)] =
          if (k < 2) Seq.empty
          else {
            val ps = partnersNow().filterNot(id => arrival.exists(_._1 == id))
            if (ps.isEmpty) Seq.empty
            else {
              val id = ps(rnd.nextInt(ps.size))
              val toks = current(id).split(" ")
              // k==2 re-delivers BYTE-IDENTICAL (the unchanged re-crawl:
              // the supersede must retire and re-add the same rows with
              // no verdict drift), k==3 a mutated copy (the edge-erasing
              // kind the retraction blast radius exists for)
              if (k == 3) { toks(rnd.nextInt(toks.length)) = s"re${e}x"; mutatedRe += 1 }
              else identicalRe += 1
              Seq((id, toks.mkString(" ")))
            }
          }
        processEvent(e, arrival ++ redeliv, Set.empty, stored)
        checkEpoch(e); e += 1
        if (k == 1 || k == 3) {
          val ps = partnersNow()
          if (ps.nonEmpty) {
            val victim = ps(rnd.nextInt(ps.size))
            // the bystander must not be one of the victim's dependents —
            // removing the whole dependency pair would leave no one to
            // re-verdict, voiding the leg this epoch exists for
            val dependents = lww().filter(col("partner_id") === lit(victim))
              .select(col("doc_id")).collect().map(_.getLong(0)).toSet
            val bystander = current.keys.toSeq
              .filterNot(id => id == victim || dependents(id))
            val picks = Set(victim) ++
              (if (bystander.nonEmpty) Set(bystander(rnd.nextInt(bystander.size)))
               else Set.empty[Long])
            processEvent(e, Seq.empty, picks, stored)
            checkEpoch(e); e += 1
          }
        }
      }
      // the seed must actually exercise every leg
      assert(docs.toDF("doc_id", "text")
        .select(col("text")).distinct().count() < docs.size,
        "no duplicate texts staged — vacuous corpus, reseed")
      assert(keepRetractions > 0,
        s"seed $seed never flipped a prior keep to a drop — reseed")
      assert(reVerdicts > 0,
        s"seed $seed never re-verdicted a retired partner's dependent — reseed")
      assert(restoredKeeps > 0,
        s"seed $seed never restored a keep through a retirement — reseed")
      assert(redeliveredCount > 0,
        s"seed $seed never re-delivered a doc — reseed")
      assert(identicalRe > 0 && mutatedRe > 0,
        s"seed $seed missed a re-delivery kind (identical=$identicalRe mutated=$mutatedRe) — reseed")
      assert(removedCount > 0,
        s"seed $seed never removed a doc — reseed")
    }
  }

  test("additive-chain compaction survives random crash states without double-counting") {
    // the additive fold shares the crash-safe swap + recovery with
    // the LWW and whole-row folds, but its failure mode is sharper: a consumed
    // delta left beside the folded base DOUBLE-COUNTS every key (LWW
    // merely resolves the duplicate away). Random signed chains, a
    // random crash state planted — including the mid-prune state where
    // the swap completed (marker inside the base) but the old deltas
    // survived — then compaction; per-key sums must be exact.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val rng = new scala.util.Random(53L)
    val stats = Chain("sink", ChainStore.AdditiveSchema, fold = Fold.Additive)
    for (trial <- 0 until 5) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_addcrash_$trial")
      val sink = root.resolve("sink")
      val store = new ChainStore(root, "cell", Seq(stats))
      try {
        val nEpochs = 2 + rng.nextInt(3)
        for (e <- 0 until nEpochs) {
          (0 until 1 + rng.nextInt(6))
            .map(_ => (rng.nextInt(8), (rng.nextInt(9) - 4).toLong))
            .toDF("cell", "n").write.parquet(s"$sink/batch=$e")
        }
        def sums(): Map[Int, Long] = spark.read.parquet(sink.toString)
          .groupBy(col("cell")).agg(sum(col("n")).as("n"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        val truth = sums()
        val maxE = nEpochs - 1
        // plant a crash state (trial 0 always the mid-prune state)
        (if (trial == 0) 3 else rng.nextInt(4)) match {
          case 3 =>
            // mid-PRUNE: folded base swapped in (marker travels inside
            // it), old deltas not yet deleted — the double-count state
            val fold = spark.read.parquet(sink.toString)
              .filter(col("batch") <= maxE)
              .groupBy(col("cell")).agg(sum(col("n")).as("n"))
              .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
            val target = java.nio.file.Paths.get(s"$sink/batch=$maxE")
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(target)
              .sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
            fold.toDF("cell", "n").write.parquet(target.toString)
            java.nio.file.Files.write(target.resolve("_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case 0 =>
            // mid-swap: snapshot complete in tmp, newest delta aside
            spark.read.parquet(sink.toString)
              .groupBy(col("cell")).agg(sum(col("n")).as("n"))
              .write.parquet(s"$sink/_compact_tmp")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$sink/_compact_tmp/_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.move(
              java.nio.file.Paths.get(s"$sink/batch=$maxE"),
              java.nio.file.Paths.get(s"$sink/_compact_old"))
          case 1 =>
            // pre-swap: stale-but-complete snapshot, chain intact
            Seq((99, 123L)).toDF("cell", "n").write.parquet(s"$sink/_compact_tmp")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$sink/_compact_tmp/_graft_target_epoch"),
              maxE.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case 2 =>
            // torn snapshot write: no marker yet
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(s"$sink/_compact_tmp"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$sink/_compact_tmp/part-0.parquet"),
              Array[Byte](7, 7, 7))
        }
        store.fold(spark, Seq(stats), None)
        assert(sums() == truth, s"trial $trial: per-key sums drifted after crash recovery")
        val dirs = new java.io.File(sink.toString).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
        assert(dirs == Set(s"batch=$maxE"), s"trial $trial: not folded to one base: $dirs")
        // idempotent on the compacted store
        store.fold(spark, Seq(stats), None)
        assert(sums() == truth, s"trial $trial: recompaction drifted the sums")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("ivf assignment and cellstats chains converge to the rebuilt live index across random retirement epochs") {
    // The stored-state algebra of stream_ingest_ann — frozen quantizer,
    // per-epoch assignment deltas, shared tombstones for removals AND
    // wholesale re-delivery supersedes, incremental cellstats deltas —
    // driven through RANDOM epochs (the streaming harness stages one
    // fixed schedule whose re-deliveries keep their embedding; here a
    // re-delivered vector is RE-EMBEDDED, so the supersede can MOVE it
    // across cells — the case the negative cellstats delta exists for).
    // After every epoch: the tombstone-resolved assignment chain must
    // equal ivfAssign over the live corpus (append-equals-rebuild under
    // interleaved retirement), and the cellstats chain's per-cell SUM
    // must equal the live occupancy — the drift monitor never diverges
    // from the truth it approximates.
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
    import org.apache.spark.sql.DataFrame
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.Similarity
    val seed = 20260816L
    info(s"ivf-chain seed=$seed")
    val rnd = new scala.util.Random(seed)
    val dim = 8
    def vec(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val current = scala.collection.mutable.LinkedHashMap.empty[Long, Seq[Double]]
    var nextId = 100L
    def df(rows: Seq[(Long, Seq[Double])]): DataFrame =
      rows.toDF("vec_id", "embedding")
    val first = (1 to 30).map { _ => nextId += 1; nextId -> vec() }
    first.foreach { case (i, v) => current(i) = v }
    // frozen quantizer — trained once on the deterministic bootstrap
    val centroids = Similarity.ivfTrain(df(first.sortBy(_._1)))
    val assignChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val statsChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val tomb = scala.collection.mutable.Map.empty[Long, Int]
    var nRemoved = 0; var nRedelivered = 0; var nMovedCells = 0L
    def resolvedAssign(): DataFrame = {
      val rows = assignChain.map { case (e, d) => d.withColumn("batch", lit(e)) }
        .reduce(_ unionByName _)
      val live =
        if (tomb.isEmpty) rows
        else rows.join(broadcast(tomb.toSeq.toDF("neighbor_id", "te")),
            Seq("neighbor_id"), "left_outer")
          .filter(col("te").isNull || col("batch") >= col("te")).drop("te")
      live.drop("batch")
    }
    def runEpoch(e: Int, batch: Seq[(Long, Seq[Double])], removed: Seq[Long],
                 stored: Scope): Unit = {
      // the production membership probe: batch ids whose assignment the
      // store holds LIVE (prior tombstones resolved first — a removed-
      // then-re-added id is NEW)
      val liveBefore: Set[Long] =
        if (assignChain.isEmpty) Set.empty
        else resolvedAssign().select(col("neighbor_id"))
          .collect().map(_.getLong(0)).toSet
      val redelivered = batch.map(_._1).filter(liveBefore)
      val retired = removed ++ redelivered
      nRemoved += removed.size; nRedelivered += redelivered.size
      // negative cellstats from the PRIOR live view, before this
      // epoch's tombstones land (the loop's epoch-1-bounded lookup)
      val neg: DataFrame =
        if (retired.isEmpty || assignChain.isEmpty)
          Seq.empty[(Int, Long)].toDF("cell", "n")
        else resolvedAssign()
          .join(broadcast(retired.toDF("neighbor_id")), Seq("neighbor_id"), "left_semi")
          .groupBy(col("cell")).agg((-count(lit(1))).as("n"))
      val delta = stored.checkpoint(Similarity.ivfAssign(df(batch), centroids))
      val stats = stored.checkpoint(Similarity.ivfCellStats(delta).unionByName(neg))
      retired.foreach(i => tomb(i) = e)
      removed.foreach(current.remove)
      batch.foreach { case (i, v) => current(i) = v }
      assignChain += e -> delta
      statsChain += e -> stats
    }
    def assertConverged(e: Int): Unit = {
      val got = resolvedAssign().orderBy(col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val want = Similarity.ivfAssign(df(current.toSeq.sortBy(_._1)), centroids)
        .orderBy(col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got.nonEmpty && got == want,
        s"epoch $e: resolved assignment chain != rebuilt live index")
      // exactly ONE live row per live vector — the double-live defect
      // the supersede tombstone exists to prevent
      assert(got.map(_._1) == got.map(_._1).distinct,
        s"epoch $e: a vector is live in more than one cell")
      val gotStats = statsChain.map { case (_, d) => d }
        .reduce(_ unionByName _)
        .groupBy(col("cell")).agg(sum(col("n")).as("n"))
        .filter(col("n") > 0)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val wantStats = want.groupBy(_._2).map { case (c, v) => c -> v.size.toLong }
      assert(gotStats == wantStats,
        s"epoch $e: cellstats chain sum $gotStats != live occupancy $wantStats")
    }
    // the chains' checkpoints are released with `stored`
    Scope.around { stored =>
      runEpoch(0, first, Seq.empty, stored)
      assertConverged(0)
      for (e <- 1 to 4) {
        val live = current.keys.toSeq.sorted
        val removed = rnd.shuffle(live).take(1 + rnd.nextInt(3))
        val stay = live.diff(removed)
        // re-embedded re-deliveries: supersede may move cells
        val redeliv = rnd.shuffle(stay).take(1 + rnd.nextInt(3)).map { i =>
          val before = Similarity.ivfAssign(df(Seq(i -> current(i))), centroids)
            .collect().head.getInt(1)
          val nv = vec()
          val after = Similarity.ivfAssign(df(Seq(i -> nv)), centroids)
            .collect().head.getInt(1)
          if (before != after) nMovedCells += 1
          i -> nv
        }
        val adds = (1 to 2).map { _ => nextId += 1; nextId -> vec() }
        runEpoch(e, redeliv ++ adds, removed, stored)
        assertConverged(e)
      }
      assert(nRemoved > 0 && nRedelivered > 0,
        s"seed $seed staged no removals/re-deliveries ($nRemoved/$nRedelivered)")
      assert(nMovedCells > 0,
        s"seed $seed: no re-embedded vector changed cell — the negative-delta leg is vacuous, reseed")
    }
  }

  test("classifier score chain converges to frozen-model scoring across random retirement epochs") {
    // The stored-state algebra of stream_ingest_classify: a model fit
    // ONCE on the bootstrap arrival and frozen, per-epoch score deltas,
    // shared tombstones for removals and re-delivery supersedes, and a
    // consumer that resolves TOMBSTONES ONLY (no LWW — the supersede
    // writes the replacement at the tombstone's own epoch, so liveness
    // alone leaves exactly one row per doc; without the supersede a
    // re-scored doc surfaces twice, VERDICT r12 #1). Re-deliveries
    // RE-WRITE the text, so the frozen model's re-score can differ from
    // the superseded row — the resolved chain must equal scoring the
    // LIVE corpus (latest text per doc) with the frozen model.
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import org.apache.spark.sql.DataFrame
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.Classifier
    val seed = 20260817L
    info(s"score-chain seed=$seed")
    val rnd = new scala.util.Random(seed)
    // real docs — the label heuristic needs natural text to bite
    val pool = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(60)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val (bootstrap, later) = pool.splitAt(40)
    val current = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    bootstrap.foreach { case (i, t) => current(i) = t }
    def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    val model = Classifier.fit(Classifier.featurized(df(bootstrap)))
    def scoreOf(rows: Seq[(Long, String)], scope: Scope): DataFrame = {
      val (scored, bc) = Classifier.scoreWithHandle(Classifier.featurized(df(rows)), model)
      val out = scope.checkpoint(scored)
      bc.destroy()
      out
    }
    val scoreChain = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame)]
    val tomb = scala.collection.mutable.Map.empty[Long, Int]
    var nRemoved = 0; var nRedelivered = 0
    def resolved(): DataFrame = {
      val rows = scoreChain.map { case (e, d) => d.withColumn("batch", lit(e)) }
        .reduce(_ unionByName _)
      val live =
        if (tomb.isEmpty) rows
        else rows.join(broadcast(tomb.toSeq.toDF("doc_id", "te")),
            Seq("doc_id"), "left_outer")
          .filter(col("te").isNull || col("batch") >= col("te")).drop("te")
      live.drop("batch")
    }
    def runEpoch(e: Int, batch: Seq[(Long, String)], removed: Seq[Long], stored: Scope): Unit = {
      val liveBefore: Set[Long] =
        if (scoreChain.isEmpty) Set.empty
        else resolved().select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val redelivered = batch.map(_._1).filter(liveBefore)
      nRemoved += removed.size; nRedelivered += redelivered.size
      (removed ++ redelivered).foreach(i => tomb(i) = e)
      removed.foreach(current.remove)
      batch.foreach { case (i, t) => current(i) = t }
      scoreChain += e -> scoreOf(batch, stored)
    }
    def assertConverged(e: Int): Unit = {
      val got = resolved().orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
          r.getDouble(3), r.getBoolean(4))).toSeq
      val want = Scope.around(scope => scoreOf(current.toSeq.sortBy(_._1), scope)
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
          r.getDouble(3), r.getBoolean(4))).toSeq)
      assert(got.nonEmpty && got.size == want.size,
        s"epoch $e: ${got.size} live rows != ${want.size} live docs " +
          "(a superseded row survived or a doc vanished)")
      got.zip(want).foreach { case (g, w) =>
        assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && g._5 == w._5,
          s"epoch $e: discrete field drifted: $g vs $w")
        assert(math.abs(g._4 - w._4) <= 1e-9, s"epoch $e: prob drifted: $g vs $w")
      }
    }
    // the score chain's checkpoints are released with `stored`
    Scope.around { stored =>
      runEpoch(0, bootstrap, Seq.empty, stored)
      assertConverged(0)
      var cursor = later
      for (e <- 1 to 4) {
        val live = current.keys.toSeq.sorted
        val removed = rnd.shuffle(live).take(1 + rnd.nextInt(3))
        val stay = live.diff(removed)
        // re-delivered with CHANGED text — the frozen model re-scores
        val redeliv = rnd.shuffle(stay).take(1 + rnd.nextInt(3))
          .map(i => i -> (current(i) + s" appended epoch $e tail tokens"))
        val (adds, rest) = cursor.splitAt(3)
        cursor = rest
        runEpoch(e, redeliv ++ adds, removed, stored)
        assertConverged(e)
      }
      assert(nRemoved > 0 && nRedelivered > 0,
        s"seed $seed staged no removals/re-deliveries ($nRemoved/$nRedelivered)")
    }
  }
}
