package graft.tools

import graft.Scope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 soak of the four index-maintaining ingest loops (VERDICT r13 #2).
  *
  * The 100 TB story for the loops is argued from plan shapes and sf0.1
  * lap traces; this main buys the empirical datapoint: run each loop at
  * sf0.1 and at a synthesized 10× corpus ("sf1") with the SAME staging
  * rules, record the per-stage lap profile of both, and print the
  * growth factor per stage. Arrival-proportional stages should grow
  * ~10×; blast-radius / delta-sized stages ~1×; anything super-linear
  * is a scale bug. The `_check` twins run at sf1 too, so the converged
  * relations stay verification-gated at the bigger scale.
  *
  * The sf1 tables are DERIVED from the driver's sf0.1 parquet (never
  * hand-rolled data): 10 replicas of documents/embeddings with ids
  * shifted per replica. Replica texts are word-mangled (`w` → `w~k`) so
  * shingle/minhash relations within a replica are preserved exactly
  * while no cross-replica near-dup pairs are invented — the near-dup
  * graph density per doc stays at sf0.1 levels, which is what "same
  * staging, 10× corpus" means. Embeddings get a deterministic per-
  * replica jitter so no cross-replica vector is an exact tie.
  *
  * Usage: sbt "runMain graft.tools.Soak [sf01Dir] [sf1Dir]"
  * (defaults /root/testdata/sf0.1 and /tmp/graft_sf1). Writes the
  * profile table to stdout; the round's BENCH_NOTES copies it in.
  */
object Soak {
  private val Replicas = 10
  // the THIRD scale point (VERDICT r15 #3): two points can't separate
  // n·const from n^1.5·small-const — the fitted growth EXPONENT across
  // sf0.1 / sf0.3 / sf1 can
  private val MidReplicas = 3

  // The replica construction's knobs, hoisted so the generator
  // fingerprint below DERIVES from them — an edit to any of these
  // invalidates the cached corpus automatically instead of relying on
  // someone remembering to bump a version string.
  private val MangleRe = "(\\S+)"                      // every word gets ~k
  private def mangleRepl(k: Int) = s"$$1~$k"           // the ~k replacement template
  private val RestoreToken = "spark"                   // the classifier label token
  private def restoreRe(k: Int) = s"(?<=^|\\s)$RestoreToken~$k(?=\\s|$$)"
  private val JitterScale = 0.1                        // embedding jitter amplitude
  private val JitterSteps = 1000L                      // jitter quantization

  /** Version of [[buildSf1]]'s STRUCTURE — the choices the expression
    * probe below cannot see: the k==0 unmangled passthrough, the
    * max(id)+1 offset derivation, which columns are replicated
    * verbatim. Expression edits invalidate the cache mechanically;
    * bump THIS when editing the builder's structure (r15 review: the
    * fingerprint's residual blind spot, scoped to exactly this list). */
  private val StructureVersion = 1

  /** Replica k's text mangle: every word gets `~k`, then the bare
    * label token is RESTORED (the classifier's label is "token
    * `spark` appears ≥2×"; a wholesale mangle would zero the positive
    * class in 9/10 replicas). ONE definition, used by [[buildSf1]] AND
    * rendered into [[GeneratorVersion]]. */
  private def mangledText(k: Int) =
    regexp_replace(
      regexp_replace(col("text"), MangleRe, mangleRepl(k)),
      restoreRe(k), RestoreToken)

  /** Replica k's embedding jitter (deterministic, so no cross-replica
    * vector is an exact tie; cast back to float — the driver tables
    * carry array<float> and the loops derive stream schemas from the
    * actual table). ONE definition, builder + fingerprint. */
  private def jitteredEmbedding(k: Int) =
    transform(col("embedding"), (x, i) =>
      (x + (pmod(xxhash64(col("vec_id"), i, lit(k)), lit(JitterSteps))
        .cast("double") / JitterSteps.toDouble - 0.5) * JitterScale)
        .cast("float"))

  /** Replica k's id shift. ONE definition, builder + fingerprint. */
  private def shiftedId(idCol: String, k: Int, off: Long) =
    col(idCol) + lit(k.toLong * off)

  /** Generator fingerprint stamped beside the derived tables (file
    * `_GENERATOR`): rendered from the CONSTRUCTION EXPRESSIONS
    * themselves (ADVICE r14 — a knob-subset hash missed edits to the
    * inline replacement template, jitter formula shape or id-offset
    * scheme), so a cached /tmp corpus from an older generator is
    * rebuilt instead of silently profiled — growth factors and
    * convergence verdicts must always describe the code under test.
    * Lambda variable names (`x_N`) come from a process-global counter
    * and are normalized out, or the fingerprint would differ run to
    * run and defeat the cache entirely. Rendered at TWO replica
    * indices (and two offsets): a k=1-only probe is blind to
    * replica-index-degenerate edits (`k` → `k·k`, `k·off` → `k²·off`)
    * that evaluate identically at 1 (r15 review). */
  private def generatorVersion(replicas: Int) = {
    val probe = Seq(1, 2).flatMap(k => Seq(mangledText(k), jitteredEmbedding(k),
      shiftedId("doc_id", k, 12345L + k)))
      .map(_.toString.replaceAll("([a-z])_\\d+", "$1_N")).mkString("|")
    s"v3-s$StructureVersion-replicas$replicas-${probe.hashCode}"
  }

  private def buildScaled(spark: SparkSession, sf01: String, out: String,
                          replicas: Int): Unit = {
    val version = generatorVersion(replicas)
    val outDir = java.nio.file.Paths.get(out)
    val marker = outDir.resolve("_GENERATOR")
    if (java.nio.file.Files.exists(outDir.resolve("documents.parquet")) &&
        java.nio.file.Files.exists(outDir.resolve("embeddings.parquet")) &&
        java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == version) {
      System.err.println(s"[soak] reusing existing ${replicas}x tables at $out ($version)")
      return
    }
    java.nio.file.Files.createDirectories(outDir)
    java.nio.file.Files.deleteIfExists(marker)
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val docOff = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val docReps = (0 until replicas).map { k =>
      if (k == 0) docs
      else docs.select(Seq(
        shiftedId("doc_id", k, docOff).as("doc_id"),
        mangledText(k).as("text")) ++
        docs.columns.filterNot(Set("doc_id", "text")).map(col): _*)
    }
    writeSingleFile(docReps.reduce(_ unionByName _), s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val embOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val embReps = (0 until replicas).map { k =>
      if (k == 0) emb
      else emb.select(Seq(
        shiftedId("vec_id", k, embOff).as("vec_id"),
        jitteredEmbedding(k).as("embedding")) ++
        emb.columns.filterNot(Set("vec_id", "embedding")).map(col): _*)
    }
    writeSingleFile(embReps.reduce(_ unionByName _), s"$out/embeddings.parquet")
    java.nio.file.Files.write(marker, version.getBytes("UTF-8"))
    System.err.println(s"[soak] built ${replicas}x tables at $out " +
      s"(docs ${docOff * replicas}, vecs ${embOff * replicas})")
  }

  /** The testdata layout stages each table as a single parquet FILE
    * named `<table>.parquet` (runBounded Files.copy's it); write via a
    * temp dir and promote the one part file. */
  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
  }

  /** The bench's pure-CPU throttle canary (the same fixed xor-sum):
    * timed immediately before each loop pass, so the growth GATES can
    * normalize the two passes onto one machine-speed scale. This VM
    * swings 2-4× under sustained load (BENCH_NOTES), and the first
    * soak gate run tripped on a classify pass whose EVERY stage —
    * including the fixed-cost consumer read-back — read ~3-5×: a
    * throttle window, not a scale regression. Raw seconds stay in the
    * profile table; only the gate ratios divide by the canaries. */
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 100000000L, 1, 32)
      .select(sum(col("id").bitwiseXOR(2654435761L)).as("x"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One timed loop pass with stage laps (summed per stage label; the
    * bench-split detail prefix is stripped — the soak's profile table
    * WANTS the internal marks, under their plain r14-compatible
    * names). */
  private def lapped(fn: => DataFrame): (Double, Long, Map[String, Double]) = {
    graft.Laps.begin()
    val t0 = System.nanoTime()
    val n = fn.count()
    val total = (System.nanoTime() - t0) / 1e9
    val laps = graft.Laps.end().foldLeft(
      scala.collection.immutable.ListMap.empty[String, Double]) {
      case (m, (s0, v)) =>
        val s = s0.stripPrefix(graft.Laps.DetailPrefix)
        m.updated(s, m.getOrElse(s, 0.0) + v)
    }
    (total, n, laps)
  }

  // ---- asserted growth gates (VERDICT r14 #2) -------------------------
  // The r14 soak PRINTED growth factors and relied on a human reading
  // the table; these constants encode that reading so a stage going
  // super-linear fails the run. Thresholds sit ~2× the r14-measured
  // worst (removal-epoch stages ≤1.7×, arrival-proportional ≤7.9× at
  // 10× data) so a single-pass throttle spike on this VM doesn't flake
  // the gate while a real scale regression still trips it. Stages
  // under MinGateSecs at sf1 are skipped: sub-second laps are fixed
  // per-epoch overhead, and their ratios are noise, not scale signal.
  private val RemovalSlack = 3.0        // blast-radius stages: ≤3× under 10× data
  private val ArrivalSlackPerData = 1.5 // arrival-proportional: ≤1.5× the data growth
  private val MinGateSecs = 2.0

  /** Removal-epoch (blast-radius) stages: arrival 3 is the loops'
    * removal feed, drained as epoch 2 / drain 3. */
  private def isRemovalStage(stage: String): Boolean =
    stage.startsWith("drain 3") || stage.startsWith("epoch 2")

  // ---- sf1 classifier model-quality floor (VERDICT r14 #3) ------------
  // The real-data floors (TrainFloor 0.80) are not meaningful on the
  // synthetic corpus: the replica mangle makes 10 near-disjoint
  // vocabularies share one hashed feature space, diluting capacity by
  // design. The non-vacuous sf1 floor is the corpus's own MEASURED
  // majority-class rate plus a margin: a zero-weight model (prob 0.5
  // everywhere → constant pred) scores exactly the majority rate and
  // fails (SoakSpec pins the flip), while the r15-measured streamed
  // accuracy at sf1 clears it with headroom.
  private[graft] val ClassifyMarginOverMajority = 0.05
  private[graft] def classifyFloorPasses(acc: Double, majorityRate: Double): Boolean =
    acc >= majorityRate + ClassifyMarginOverMajority

  /** Local log-log slope of one scale segment — the exponent gate's
    * kernel. A pure power law c·n^p reads exactly p on EVERY segment
    * (the constant cancels inside the ratio), and a fixed overhead
    * dilutes only the small-scale segments — so the TAIL segment
    * (sf0.3 → sf1) is where the asymptotic exponent shows. A
    * least-squares fit over (0, log3, log10) would NOT do: the
    * midpoint's coefficient is ~0, so the fit is the endpoint ratio
    * re-expressed — strictly looser than the r14 ratio gates and blind
    * to curvature (r16 review: the original formulation was vacuous).
    */
  private[graft] def segmentSlope(tI: Double, tJ: Double, fI: Double, fJ: Double): Double =
    math.log(tJ / tI) / math.log(fJ / fI)

  // tail-exponent limits (VERDICT r15 #3): a blast-radius stage whose
  // TAIL segment grows past n^1.2, or an arrival-proportional one past
  // n^1.3, is super-linear where it matters — the shape the two-point
  // ratio gates (which these ADD to, not replace) wave through when a
  // fixed constant dilutes the overall ratio: 1 + 0.1·n² reads a 10×
  // ratio (under the 15× arrival limit) but tail slope ~1.46
  // (SoakSpec pins the example).
  private val RemovalExponentMax = 1.2
  private val ArrivalExponentMax = 1.3
  // curvature (tail slope minus head slope): zero for any pure power
  // law, at most ~0.28 for constant-plus-linear (maximized near
  // c ≈ 2.5a) — sustained acceleration above this is the
  // small-constant super-linear signature. WARN, not fail: the suite
  // contains accepted super-linear shapes (the uncapped bootstrap's
  // pair join is the df² term the cap exists for), and the hard line
  // is the tail-exponent limit above.
  private val AccelWarn = 0.45

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val sf1 = args.lift(1).getOrElse("/tmp/graft_sf1")
    val sf03 = args.lift(2).getOrElse("/tmp/graft_sf03")
    val spark = graft.GraftSession.local()
    // which streaming state-store backend this soak exercises — the
    // RocksDB pass (VERDICT r14 #6) is the same command under
    // SPARK_GRAFT_STATE_STORE=rocksdb, and the profile artifact must
    // name the backend it measured
    System.err.println("[soak] state store: " +
      sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "default (HDFS-backed)"))
    buildScaled(spark, sf01, sf1, Replicas)
    buildScaled(spark, sf01, sf03, MidReplicas)
    // (label, dir, data factor) — three scale points so the gates can
    // fit a growth EXPONENT per stage, not just a two-point ratio
    val scales = Seq(("sf0.1", sf01, 1.0), ("sf0.3", sf03, MidReplicas.toDouble),
      ("sf1", sf1, Replicas.toDouble))
    import graft.streaming.Events
    // args beyond the three dirs = loop-name filter (r18): the
    // throttle-adjudication tool — re-profile ONLY the disputed loops
    // (growth/exponent gates still apply to them). A filtered run
    // SKIPS the sf1 convergence-gate section: those gates belong to
    // the full soak, and re-running every twin for a two-loop
    // re-measure would bury the adjudication in unrelated hours.
    val onlyLoops = args.drop(3).toSet
    val loopsAll: Seq[(String, String => DataFrame)] = Seq(
      "stream_ingest_neardup" -> (d => Events.ingestNearDup(spark, d)),
      // the band-capped loop (r16): same staging plus the hot
      // band-bucket snapshot chain, the crossing machinery and the
      // staged template flood — its growth factors certify the cap's
      // chain integration at 10× data
      "stream_ingest_neardup_capped" -> (d => Events.ingestNearDup(spark, d,
        maxBandDf = Some(graft.operators.Dedup.BandCapDf))),
      "stream_ingest_ann" -> (d => Events.ingestAnnIvf(spark, d)),
      // MIGRATION MODE (r17, VERDICT r16 #4: the migration's epochs —
      // train, chunk re-assign, completeness gate — get their own
      // three-point growth record via the in-loop migration laps)
      "stream_ingest_ann_migrate" -> (d => Events.ingestAnnIvf(spark, d,
        driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
        driftWaveArrival2 = true)),
      // TWO-WAVE migration mode (r18, VERDICT r17 #6): the v1→v2→v3
      // staging — the SECOND wave re-trips off generation 2's own
      // stats chain through the re-armed marker path, so its stages
      // (train, chunk re-assign, completeness gate) should profile
      // like the first wave's at every scale. That sameness IS the
      // generational claim, now gated at three scale points instead
      // of asserted at spec scale only. Per-epoch lap labels keep the
      // waves' stages distinct rows (wave 1 trains at epoch 1, wave 2
      // at epoch 3+), so the growth gates bound each wave separately.
      "stream_ingest_ann_migrate2" -> (d => Events.ingestAnnIvf(spark, d,
        driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
        driftWaveArrival2 = true, driftSecondWave = true)),
      "stream_ingest_classify" -> (d => Events.ingestClassify(spark, d)),
      "stream_ingest_classify_migrate" -> (d => Events.ingestClassify(spark, d,
        driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
        labelShiftArrival2 = true)),
      // TWO-WAVE classifier migration (r19, VERDICT r18 #5 — the
      // classifier instance of the ANN two-wave row above): the second
      // label shift re-trips off generation 2's OWN baseline through
      // the re-armed marker path, driving g2→g3 on the same code path
      // with g1 retired in between; its train/chunk/counts/gate stages
      // should profile inside the first wave's bands at every scale
      "stream_ingest_classify_migrate2" -> (d => Events.ingestClassify(spark, d,
        driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
        labelShiftArrival2 = true, labelSecondWave = true)),
      "stream_incremental_clean" -> (d => Events.streamIncrementalClean(spark, d)),
      // the capped clean loop (r15): same staging, plus the hot-shingle
      // snapshot chain and crossing machinery
      "stream_incremental_clean_capped" -> (d =>
        Events.streamIncrementalClean(spark, d, maxShingleDf = Some(Events.CleanCapDf))))
    val loops =
      if (onlyLoops.isEmpty) loopsAll
      else {
        val unknown = onlyLoops -- loopsAll.map(_._1).toSet
        require(unknown.isEmpty, s"unknown loops: ${unknown.toSeq.sorted.mkString(", ")}")
        loopsAll.filter(p => onlyLoops(p._1))
      }
    // per (loop, stage): seconds at each scale point, scale-aligned
    val rows = scala.collection.mutable.ListBuffer.empty[(String, String, Vector[Double])]
    // per-loop per-scale canary normalizer (max of the pass's brackets)
    val loopCanaries = scala.collection.mutable.Map.empty[String, Vector[Double]]
    canary(spark) // untimed: the canary's own codegen would fake a throttle
    for ((name, fn) <- loops) {
      // each pass is BRACKETED by canaries and normalized by the
      // slower of its two (r15 review): a throttle window that begins
      // mid-pass is invisible to a before-only sample, and the slower
      // bracket is the honest machine speed the pass ran under
      var cPrev = canary(spark)
      val passes = scales.map { case (label, dir, _) =>
        System.err.println(f"[soak] $name @ $label (canary $cPrev%.3fs)")
        val (t, n, laps) = lapped(fn(dir))
        val cNext = canary(spark)
        System.err.println(f"[soak] $name $label total $t%.1fs rows $n (canary $cNext%.3fs)")
        val norm = math.max(cPrev, cNext)
        cPrev = cNext
        (t, laps, norm)
      }
      loopCanaries(name) = passes.map(_._3).toVector
      rows += ((name, "TOTAL", passes.map(_._1).toVector))
      // stage rows are scale-aligned over the UNION of stage labels:
      // a stage missing at any scale gets a 0-second slot and a loud
      // line — a renamed lap or a stage skipped at scale is itself a
      // scale signal, not a silent table hole
      val allStages = passes.flatMap(_._2.keys).distinct
      for (stage <- allStages) {
        val ts = passes.map(_._2.getOrElse(stage, 0.0)).toVector
        rows += ((name, stage, ts))
        for (((label, _, _), t) <- scales.zip(ts) if t == 0.0)
          System.err.println(f"[soak] $name / $stage did NOT run at $label " +
            "— renamed lap or a stage skipped at that scale")
      }
    }
    // converged-relation gates at sf1: the `_check` twins (single-row
    // verdicts — every boolean must hold, every pinned counter must be
    // 0), plus the clean loop's exact equality to its batch twin
    // (its oracle is plain SQL the spec re-derives here).
    var failures = List.empty[String]
    // DELIBERATE double-run: the profile passes above measure the RAW
    // loops so growth factors aren't interleaved with verification
    // jobs; the gates below re-run each loop inside its twin/equality
    // harness. At sf1 that is ~2x the loop cost — accepted, the soak
    // is a once-per-round tool and a clean profile is its product.
    // classify's `_check` twin is NOT run at sf1: its train/holdout
    // accuracy floors gate MODEL quality, and the replica word-mangle
    // deliberately makes 10 disjoint vocabularies share one hashed
    // feature space — capacity dilution sinks train accuracy below the
    // 0.80 floor on the synthetic corpus while the real-data floors
    // stay green at sf0.1 (and in every driver run). The scale
    // question for the loop is CONVERGENCE, gated below by direct
    // streamed-vs-batch equality at sf1 (the StreamingSpec contract:
    // discrete fields verbatim, probs at 1e-6).
    if (onlyLoops.isEmpty) {
    val checks = Seq(
      "stream_ingest_neardup_check" -> (() => Events.ingestNearDupCheck(spark, sf1)),
      "stream_ingest_ann_check" -> (() => Events.ingestAnnCheck(spark, sf1)),
      // the migration contract at 10×: trip, cutover, fresh-v2
      // equality and the recall floor all held on the synthetic corpus
      // (the drift wave's geometry is scale-free — the shifted cloud
      // still funnels into one frozen cell)
      "stream_ingest_ann_migrate_check" ->
        (() => Events.ingestAnnMigrateCheck(spark, sf1)))
    val pinnedZero = Set("n_false_dups", "n_jaccard_mismatch", "n_exact_dup_missed",
      "n_prob_oob")
    for ((name, fn) <- checks) {
      System.err.println(s"[soak] $name @ sf1")
      val df = fn()
      val row = df.collect().head
      val schema = df.schema
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val bad =
          (f.dataType == org.apache.spark.sql.types.BooleanType && !row.getBoolean(i)) ||
            (pinnedZero(f.name) && row.getLong(i) != 0L)
        if (bad) failures ::= s"$name: ${f.name} = ${row.get(i)}"
      }
      System.err.println(s"[soak] $name verdict: $row")
    }
    // the migrated classifier's convergence at 10× (floors excluded on
    // the synthetic corpus for the same capacity-dilution reason as the
    // classify check — the scale question is fresh-g2 EQUALITY). Both
    // equality legs go through Events.scoredMismatchCount — the
    // join-shaped comparison the `_check` twin uses (VERDICT r17 #1:
    // these legs collected both relations as corpus-width driver
    // arrays) — so the soak reads one mismatch-count scalar per leg.
    System.err.println(s"[soak] stream_ingest_classify_migrate fresh-g2 equality @ sf1")
    val migGot = Events.ingestClassify(spark, sf1,
      driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
      labelShiftArrival2 = true)
    val migShifted = Events.classifyShiftedCorpus(
      spark.read.parquet(s"$sf1/documents.parquet"))
    val migFresh = graft.operators.Classifier.score(
      graft.operators.Classifier.featurized(migShifted),
      graft.operators.Classifier.fit(graft.operators.Classifier.featurized(
        migShifted.filter(col("doc_id") % Events.ReLabelMod === 0))))
    val nMigGot = migGot.count()
    val migMismatch = Events.scoredMismatchCount(migGot, migFresh)
    if (nMigGot == 0 || migMismatch != 0)
      failures ::= s"stream_ingest_classify_migrate sf1 diverged from fresh g2 " +
        s"($migMismatch mismatched docs of $nMigGot streamed)"
    System.err.println(s"[soak] stream_ingest_classify batch-twin equality @ sf1")
    val clsBatch = graft.operators.Classifier.classify(spark, sf1)
    val clsGot = Events.ingestClassify(spark, sf1)
    val nClsGot = clsGot.count()
    val clsMismatch = Events.scoredMismatchCount(clsGot, clsBatch)
    if (nClsGot == 0 || clsMismatch != 0)
      failures ::= s"stream_ingest_classify sf1 diverged from batch twin " +
        s"($clsMismatch mismatched docs of $nClsGot streamed)"
    val batchLabels = clsBatch.agg(
      sum(when(col("label"), 1L).otherwise(0L)), count(lit(1))).head()
    if (batchLabels.getLong(0) == 0L || batchLabels.getLong(0) == batchLabels.getLong(1))
      failures ::= "sf1 classify label degenerate — the spark-token restore regressed"
    // model-quality floor at sf1 (VERDICT r14 #3): whole-corpus
    // accuracy of the streamed scores vs the measured majority-class
    // baseline — the floor a constant predictor exactly fails
    if (nClsGot > 0) {
      val r = clsGot.agg(
        (sum(when(col("label"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("pos_rate"),
        (sum(when(col("pred") === col("label"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("acc")).head()
      val posRate = r.getDouble(0)
      val majority = math.max(posRate, 1.0 - posRate)
      val acc = r.getDouble(1)
      System.err.println(f"[soak] sf1 classify accuracy $acc%.3f vs majority " +
        f"baseline $majority%.3f (floor = majority + $ClassifyMarginOverMajority)")
      if (!classifyFloorPasses(acc, majority))
        failures ::= f"stream_ingest_classify sf1 accuracy $acc%.3f below the " +
          f"majority+margin floor ($majority%.3f + $ClassifyMarginOverMajority)"
    }
    // the clean / capped-clean / capped-neardup batch-twin gates read
    // ONE mismatch-count scalar each via Events.keyedMismatchCount
    // (VERDICT r18 #2 — these legs previously collected both relations
    // as corpus-width driver arrays; the classify legs were ported to
    // the same shape in r18). The batch twins are persisted because
    // each serves two gates (its equality leg + the cap-vacuity leg).
    System.err.println(s"[soak] stream_incremental_clean batch-twin equality @ sf1")
    val docs1 = spark.read.parquet(s"$sf1/documents.parquet")
    def keptView(cap: Option[Int]) = graft.operators.Corpus.ledger(docs1, cap)
      .filter(col("doc_id") === col("cluster_id") && col("quality") >= 0.75)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
    val cleanCols = Seq("n_tokens", "quality", "lang_pred")
    Scope.around { scope =>
      val cleanBatch = scope.persist(keptView(None))
      val cleanCapBatch = scope.persist(keptView(Some(Events.CleanCapDf)))
      val cleanGot = Events.streamIncrementalClean(spark, sf1)
      val nCleanGot = cleanGot.count()
      val cleanMismatch =
        Events.keyedMismatchCount(cleanGot, cleanBatch, "doc_id", cleanCols)
      if (nCleanGot == 0 || cleanMismatch != 0)
        failures ::= s"stream_incremental_clean sf1 diverged from batch twin " +
          s"($cleanMismatch mismatched docs of $nCleanGot streamed)"
      System.err.println(s"[soak] stream_incremental_clean_capped batch-twin equality @ sf1")
      val cleanCapGot = Events.streamIncrementalClean(spark, sf1,
        maxShingleDf = Some(Events.CleanCapDf))
      val nCleanCapGot = cleanCapGot.count()
      val cleanCapMismatch =
        Events.keyedMismatchCount(cleanCapGot, cleanCapBatch, "doc_id", cleanCols)
      if (nCleanCapGot == 0 || cleanCapMismatch != 0)
        failures ::= s"stream_incremental_clean_capped sf1 diverged from capped batch twin " +
          s"($cleanCapMismatch mismatched docs of $nCleanCapGot streamed)"
      // non-vacuity at 10×: the per-replica word-mangle preserves each
      // replica's shingle dfs, so the cap must keep biting at sf1 —
      // stated on the two BATCH oracles (comparing the streamed output
      // against the uncapped batch would misreport a cap-dropping stream
      // bug as vacuity; r15 review)
      if (Events.keyedMismatchCount(cleanCapBatch, cleanBatch, "doc_id", cleanCols) == 0)
        failures ::= s"cap ${Events.CleanCapDf} does not bite at sf1 — capped gate vacuous"
    }
    // the band-capped near-dup loop's convergence gate (r16): verbatim
    // equality with the CAPPED batch twin over the sf1 corpus — the
    // staged flood crosses the cap up and back down at 10× data, so
    // equality proves the crossing retractions restored every verdict
    System.err.println(s"[soak] stream_ingest_neardup_capped batch-twin equality @ sf1")
    val ndCap = Some(graft.operators.Dedup.BandCapDf)
    val ndCapGot = Events.ingestNearDup(spark, sf1, maxBandDf = ndCap)
    val nNdCapGot = ndCapGot.count()
    // release the capped verdict's pair checkpoint once compared — a
    // soak calls this per scale and an unreleased checkpoint pins a
    // pair-sized RDD for the process lifetime (ADVICE r16)
    val ndCapMismatch = Scope.around(scope => Events.keyedMismatchCount(ndCapGot,
      graft.operators.Dedup.minhashNearDupVerdict(docs1, maxBandDf = ndCap, scope = scope),
      "doc_id", Seq("keep", "partner_id", "jaccard")))
    if (nNdCapGot == 0 || ndCapMismatch != 0)
      failures ::= s"stream_ingest_neardup_capped sf1 diverged from the capped batch twin " +
        s"($ndCapMismatch mismatched docs of $nNdCapGot streamed)"
    } // end of the full-soak convergence-gate section (skipped when filtered)
    val scaleHeader = scales.map(_._1 + " s").mkString(" | ")
    println(s"| loop | stage | $scaleHeader | growth | tail exp | accel |")
    println("|---|---|" + scales.map(_ => "---|").mkString + "---|---|---|")
    val factors = scales.map(_._3)
    for ((loop, stage, ts) <- rows) {
      val cells = ts.map(t => f"$t%.2f").mkString(" | ")
      val g = if (ts.head > 0) f"${ts.last / ts.head}%.1f×" else "new"
      val (tail, accel) = if (ts.forall(_ > 0)) {
        val s12 = segmentSlope(ts(0), ts(1), factors(0), factors(1))
        val s23 = segmentSlope(ts(1), ts(2), factors(1), factors(2))
        (f"$s23%.2f", f"${s23 - s12}%.2f")
      } else ("-", "-")
      println(s"| $loop | $stage | $cells | $g | $tail | $accel |")
    }
    // growth gates (VERDICT r14 #2): the profile table, asserted —
    // each pass's laps divided by ITS adjacent canary first, so a
    // throttle window covering one pass reads as machine speed, not
    // stage growth (the raw table above stays in seconds). Both the
    // ratio and the tail-exponent gate hard-fail only when the raw AND
    // canary-normalized readings exceed the limit (the two blind spots
    // of ADVICE r15 / the r15 review); a ONE-SIDED exceedance is
    // auto-adjudicated by re-running the loop once (ADVICE r16 —
    // previously deferred to a manual idle re-run), and stays a loud
    // warning if the re-run still disagrees.
    val dataGrowth = Replicas.toDouble
    // evaluate one stage row's two gates; returns (hard failures,
    // one-sided disagreement present)
    def gateStage(loop: String, stage: String, ts: Vector[Double],
                  cs: Vector[Double]): (List[String], Boolean) = {
      var fails = List.empty[String]
      var oneSided = false
      val (a, b) = (ts.head, ts.last)
      val (ca, cb) = (cs.head, cs.last)
      if (a > 0) {
        val growth = (b / cb) / (a / ca)
        val (limit, cls) =
          if (isRemovalStage(stage)) (RemovalSlack, "removal-epoch blast-radius")
          else (ArrivalSlackPerData * dataGrowth, "arrival-proportional")
        if (growth > limit && b / a > limit)
          fails ::= f"growth gate: $loop / $stage grew $growth%.1f× " +
            f"canary-normalized under $dataGrowth%.0f× data " +
            f"(raw ${b / a}%.1f×, canaries $ca%.3f→$cb%.3f; limit $limit%.1f×, $cls)"
        else if (growth > limit || b / a > limit) {
          // a canary spike bracketing one pass inflates the normalized
          // ratio (false-fail) or masks a real raw regression — the
          // two one-sided shapes; either way the re-run adjudicates
          oneSided = true
          System.err.println(f"[soak] growth gate ONE-SIDED: $loop / $stage " +
            f"normalized $growth%.1f× vs raw ${b / a}%.1f× against the " +
            f"$limit%.1f× limit (canaries $ca%.3f→$cb%.3f)")
        }
      } else
        // a stage that exists only at sf1 (e.g. a renamed lap) has no
        // ratio — loud on stderr so a rename is noticed, but not a
        // failure: the gate's subject is growth, not label stability
        System.err.println(f"[soak] growth gate: $loop / $stage is NEW at sf1 " +
          f"($b%.2fs) — no sf0.1 baseline to gate against")
      // the TAIL-EXPONENT gate (VERDICT r15 #3, reworked after the r16
      // review): the sf0.3→sf1 segment's local exponent is where a
      // small-constant super-linear shape shows (the constant dilutes
      // the overall ratio and the head segment, never the tail), so
      // this catches what the ratio gate can't — e.g. 1 + 0.1·n² reads
      // a 10× ratio but a ~1.46 tail slope. Curvature (tail − head
      // slope) above AccelWarn additionally warns — the early
      // signature of the same shape before the tail crosses the line.
      if (ts.forall(_ > 0)) {
        val factors = scales.map(_._3)
        val normTs = ts.zip(cs).map { case (t, c) => t / c }
        def tail(vals: Seq[Double]) =
          segmentSlope(vals(1), vals(2), factors(1), factors(2))
        val (tailRaw, tailNorm) = (tail(ts), tail(normTs))
        val (eLimit, cls) =
          if (isRemovalStage(stage)) (RemovalExponentMax, "removal-epoch blast-radius")
          else (ArrivalExponentMax, "arrival-proportional")
        if (tailNorm > eLimit && tailRaw > eLimit)
          fails ::= f"exponent gate: $loop / $stage tail segment grows " +
            f"~n^$tailNorm%.2f canary-normalized (raw n^$tailRaw%.2f; limit " +
            f"n^$eLimit%.1f, $cls; seconds ${ts.map(t => f"$t%.2f").mkString("/")})"
        else if (tailNorm > eLimit || tailRaw > eLimit) {
          oneSided = true
          System.err.println(f"[soak] exponent gate ONE-SIDED: $loop / $stage " +
            f"tail reads n^$tailNorm%.2f normalized / n^$tailRaw%.2f raw " +
            f"against the n^$eLimit%.1f limit")
        }
        val accel = tailNorm -
          segmentSlope(normTs(0), normTs(1), factors(0), factors(1))
        if (accel > AccelWarn)
          System.err.println(f"[soak] curvature WARNING: $loop / $stage " +
            f"accelerates (tail − head slope = $accel%.2f > $AccelWarn%.2f; a " +
            "power law reads 0, constant+linear ≤ ~0.28) — the small-constant " +
            "super-linear signature; watch the tail exponent across rounds")
      }
      (fails, oneSided)
    }
    val loopFns = loops.toMap
    for ((loop, _) <- loops) {
      val cs = loopCanaries.getOrElse(loop, Vector.fill(scales.size)(1.0))
      val stageRows = rows.toList.collect {
        case (l, s, ts) if l == loop && s != "TOTAL" && ts.last >= MinGateSecs =>
          (s, ts)
      }
      val evaluated = stageRows.map { case (s, ts) => (s, gateStage(loop, s, ts, cs)) }
      var fails = evaluated.flatMap(_._2._1)
      val disputed = evaluated.collect { case (s, (_, true)) => s }
      if (disputed.nonEmpty) {
        // ADVICE r16: re-run the loop ONCE across the three scales
        // (freshly bracketed canaries) and let the re-run adjudicate
        // the one-sided stages in-process. A re-run that still
        // disagrees stays a warning — a persistently noisy machine,
        // not the code; a re-run that confirms on BOTH sides fails.
        System.err.println(s"[soak] one-sided gate disagreement on $loop " +
          s"(${disputed.mkString("; ")}) — auto-rerunning the loop to adjudicate")
        var cPrev = canary(spark)
        val passes2 = scales.map { case (label, dir, _) =>
          val (t, _, laps) = lapped(loopFns(loop)(dir))
          val cNext = canary(spark)
          System.err.println(f"[soak] rerun $loop @ $label total $t%.1fs (canary $cNext%.3f)")
          val norm = math.max(cPrev, cNext); cPrev = cNext
          (laps, norm)
        }
        val cs2 = passes2.map(_._2).toVector
        disputed.foreach { s =>
          val ts2 = passes2.map(_._1.getOrElse(s, 0.0)).toVector
          // a zero slot means the stage did NOT run in the re-run
          // (renamed lap / conditional stage) — gateStage would skip
          // both gates on it, and "clean" must never be concluded from
          // a stage that never executed (r17 review)
          if (ts2.exists(_ == 0.0))
            System.err.println(s"[soak] $loop / $s absent from the re-run " +
              s"(${ts2.mkString("/")}) — NOT adjudicated; original " +
              "one-sided reading stands as a warning")
          else if (ts2.last < MinGateSecs)
            // the primary gate's noise floor, re-applied to the RE-RUN's
            // own timings (ADVICE r17): a stage that fell under the
            // floor this time is fixed per-epoch overhead measured over
            // tiny absolute seconds — hard-failing a ratio there is
            // exactly what the floor exists to exclude
            System.err.println(f"[soak] $loop / $s re-ran under the " +
              f"$MinGateSecs%.1fs gate floor (${ts2.last}%.2fs at sf1) — " +
              "NOT adjudicated; original one-sided reading stands as a warning")
          else {
            val (fails2, still) = gateStage(loop, s, ts2, cs2)
            fails = fails ++ fails2
            if (still)
              System.err.println(s"[soak] $loop / $s still one-sided after the " +
                "re-run — left as a warning (persistently noisy machine)")
            else if (fails2.isEmpty)
              System.err.println(s"[soak] $loop / $s adjudicated clean by the re-run")
          }
        }
      }
      failures = fails ++ failures
    }
    if (failures.nonEmpty) {
      System.err.println("[soak] FAILURES:\n  " + failures.mkString("\n  "))
      spark.stop(); sys.exit(1)
    }
    println("[soak] all sf1 convergence gates green")
    spark.stop()
  }
}
