package graft

import graft.streaming.Events
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spec for §2.7: the streaming results must equal the same computation
  * done in batch over the full events table (stream/batch unification —
  * the property Structured Streaming guarantees when watermarks are
  * honored and state is flushed).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stream_window_agg equals the batch tumbling-window aggregation") {
    val streamed = Events.windowAgg(spark, TestSpark.sf)
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("file-sink append path finalizes the same windows as the memory-sink harness") {
    val fromFiles = Events.windowAggToFiles(spark, TestSpark.sf)
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
    assert(fromFiles.collect().toSeq == batch.collect().toSeq)
  }

  test("sliding windows put every event in exactly 4 overlapping windows") {
    val streamed = Events.slidingWindowAgg(spark, TestSpark.sf)
    val nEvents = Tables.events(spark, TestSpark.sf).count()
    assert(streamed.agg(sum(col("n_events"))).head().getLong(0) == 4 * nEvents)
    // batch equivalence: explode each event to its 4 slide marks
    val batch = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type"), col("value"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select((timestamp_seconds(floor(unix_micros(col("ts")) / 1e6 / 900) * 900
          - col("k") * 900)).as("window_start"),
        col("event_type"), col("value"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("stream_ingest_dedup gates short docs and counts duplicate arrivals") {
    import spark.implicits._
    // synthetic corpus staged as a real parquet table: one text arriving
    // 3x under different ids, one distinct survivor, one sub-gate doc
    val long1 = (1 to 12).map(i => s"w$i").mkString(" ")
    val long2 = (1 to 12).map(i => s"x$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_spec")
    try {
      // the harness stages `$sfDir/documents.parquet` as a single FILE
      // (the testdata layout), so promote the one part file to that name
      val stage = s"$dir/stage"
      Seq((5L, long1), (9L, long1), (1L, long1), (2L, long2), (3L, "too short"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve("documents.parquet"))
      val got = Events.ingestDedup(spark, dir.toString)
        .select(col("keep_id"), col("n_arrivals")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // short doc gone; triplicate collapses to min id with count 3
      assert(got == Set((1L, 3L), (2L, 1L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("stream_ingest_neardup converges to the batch minhash verdict") {
    import graft.operators.Dedup
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val fetchProbe = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    val streamed = Events.ingestNearDup(spark, TestSpark.sf, deltaProbe = Some(probe),
      priorFetchProbe = Some(fetchProbe))
      .collect().toSeq
    val docs = Tables.documents(spark, TestSpark.sf)
    val batch = Dedup.minhashNearDupVerdict(docs).collect().toSeq
    // arrival-order independence: the index-maintained stream must land
    // on EXACTLY the batch relation (fixed-hash minhash perms) — and
    // since arrival 1 planted negative-id SHADOW duplicates that
    // arrival 3 retracts PLUS stale drafts of the %10 docs that
    // arrival 2 re-delivers, equality also proves the removal AND
    // re-delivery legs: a surviving shadow row, an original still
    // pointing at its removed shadow partner, or a stale band/shingle
    // row matching after the supersede would differ from the batch twin
    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed.forall(_.getLong(0) >= 0), "a removed shadow survived retraction")
    // and the dedup actually bites on the testdata
    assert(streamed.exists(r => !r.getBoolean(1)), "no near-dup flagged — vacuous corpus")
    // three arrivals, three epochs; the later epochs' verdict deltas
    // are blast-radius-sized: own batch plus retracted/re-verdicted
    // prior docs, strictly under the corpus width (a corpus-width delta
    // means the changelog regressed to full rewrites)
    val deltas = probe.toMap
    val n = docs.count()
    val batch2 = docs.filter(col("doc_id") % 5 === 0).count()
    val shadows = docs.filter(col("doc_id") % graft.streaming.Events.ShadowMod === graft.streaming.Events.ShadowRem).count()
    val redelivered = docs.filter(col("doc_id") % graft.streaming.Events.RedeliveryMod === 0).count()
    assert(shadows > 0, "testdata has no %20==3 docs — removal staging vacuous")
    assert(redelivered > 0, "testdata has no %10 docs — re-delivery staging vacuous")
    assert(deltas.keySet == Set(0L, 1L, 2L), s"expected 3 epochs, got $probe")
    assert(deltas(0L) == n - batch2 + shadows + redelivered,
      s"bootstrap delta ${deltas(0L)} != ${n - batch2 + shadows + redelivered}")
    assert(deltas(1L) >= batch2 && deltas(1L) < n,
      s"epoch-1 delta ${deltas(1L)} not blast-radius-sized (batch $batch2, corpus $n)")
    // the removal epoch emits ONLY the re-verdicted blast radius (the
    // docs whose partner was a shadow) — the shadows themselves are
    // retracted by tombstone, not by rows
    assert(deltas(2L) >= 1 && deltas(2L) < n,
      s"removal-epoch delta ${deltas(2L)} not blast-radius-sized (corpus $n)")
    // the PRIOR-verdict resolution is delta-sized (VERDICT r12 #2): the
    // loop fetches only the requested ids' bucket-pruned chain rows —
    // never an LWW over the whole chain. Epoch 0 has no prior;
    // later epochs request strictly fewer ids than the corpus holds,
    // and the rows entering LWW are bounded by one row per requested id
    // per committed epoch (the old design pushed the ENTIRE chain —
    // ≥ corpus width — through the aggregate every epoch)
    val fetches = fetchProbe.map(t => (t._1, (t._2, t._3))).toMap
    assert(fetches.keySet == Set(0L, 1L, 2L), s"fetch probe epochs: $fetchProbe")
    assert(fetches(0L) == ((0L, 0L)), s"bootstrap epoch fetched prior state: $fetchProbe")
    Seq(1L, 2L).foreach { e =>
      val (ids, rows) = fetches(e)
      assert(ids < n,
        s"epoch-$e prior fetch requested $ids ids (corpus $n) — not delta-sized")
      assert(rows <= ids * (e + 1),
        s"epoch-$e prior fetch read $rows chain rows for $ids ids — more than one row/id/epoch")
    }
    // non-vacuous: the retirement epochs really consulted prior state
    assert(fetches.values.map(_._1).sum > 0, s"prior fetch never ran: $fetchProbe")
  }

  test("stream_ingest_ann equals the batch-maintained IVF index, appends only deltas") {
    import graft.operators.Similarity
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val statsProbe = scala.collection.mutable.ListBuffer.empty[(Long, Seq[(Int, Long)])]
    val statsInputProbe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val streamed = Events.ingestAnnIvf(spark, TestSpark.sf, deltaProbe = Some(probe),
      cellStatsProbe = Some(statsProbe), cellStatsInputProbe = Some(statsInputProbe))
      .collect().toSeq
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.filter(col("vec_id") >= Similarity.NumQueries)
    // the third arrival REMOVES the %17 vectors — the maintained index
    // must converge to the LIVE corpus
    val live = corpus.filter(col("vec_id") % graft.streaming.Events.AnnRemovalMod =!= 0)
    // batch twin: quantizer trained on the FIRST arrival's deterministic
    // sample (ordered by vec_id, as the stream trains), one-shot
    // assignment of the live corpus — append-equals-rebuild plus
    // tombstone resolution makes the streamed chain identical, so the
    // query side must match verbatim
    val centroids = Similarity.ivfTrain(
      corpus.filter(col("vec_id") % 5 =!= 0).orderBy(col("vec_id")))
    val batch = Similarity.ivfTopKFromIndex(
      emb, Similarity.ivfAssign(live, centroids), centroids, nprobe = 8)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // per-epoch writes are exactly the arrivals — no re-assignment
    // ever; the final epoch's delta is exactly the RE-DELIVERED
    // vectors' fresh assignments (removals are tombstone-only), and
    // the converged equality above proves the supersede worked: a
    // surviving old assignment row would surface the re-delivered
    // vector in two cells and break the verbatim match
    val n = corpus.count(); val second = corpus.filter(col("vec_id") % 5 === 0).count()
    val removedN = corpus.filter(col("vec_id") % graft.streaming.Events.AnnRemovalMod === 0).count()
    val redeliveredN = corpus.filter(col("vec_id") % graft.streaming.Events.RedeliveryMod === 0 &&
      col("vec_id") % graft.streaming.Events.AnnRemovalMod =!= 0).count()
    // the EARLY re-delivery slice (arrival-1 members re-arriving in
    // arrival 2 — plants epoch-1 supersede tombstones so the
    // compactEvery=1 rerun below folds + consumes tombstones live)
    val earlyN = corpus.filter(col("vec_id") % graft.streaming.Events.RedeliveryMod ===
      graft.streaming.Events.EarlyRedeliveryRem).count()
    assert(removedN > 0, "testdata has no %17 vectors — removal staging vacuous")
    assert(redeliveredN > 0, "testdata has no %10 vectors — re-delivery staging vacuous")
    assert(earlyN > 0, "testdata has no %10==3 vectors — early re-delivery staging vacuous")
    assert(probe.toMap == Map(0L -> (n - second), 1L -> (second + earlyN), 2L -> redeliveredN),
      s"deltas: $probe")
    // the drift monitor: occupancy accumulates through the adds and
    // DRAINS through the removals (negative delta rows), landing on the
    // one-shot stats over the live corpus — the relation a deployment
    // alarms on for frozen-centroid drift
    val stats = statsProbe.toMap
    assert(stats(0L).map(_._2).sum == n - second && stats(1L).map(_._2).sum == n &&
      stats(2L).map(_._2).sum == n - removedN,
      s"occupancy totals drifted from arrivals: $statsProbe")
    val oneShot = Similarity.ivfCellStats(Similarity.ivfAssign(live, centroids))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(stats(2L) == oneShot, "final cell stats diverged from the one-shot live index")
    // the monitor is INCREMENTAL (VERDICT r10 ask #4): its per-epoch
    // input is the cellstats delta chain — O(epochs × nCells) scalar
    // rows (a removal epoch writes up to 2×nCells: adds + negatives) —
    // never the O(corpus) assignment chain. nCells = 16.
    val inputs = statsInputProbe.toMap
    assert(inputs.forall { case (e, rows) => rows <= (e + 1) * 32 },
      s"drift monitor read more than the stats chain: $statsInputProbe " +
        s"(corpus is ${n} rows — a corpus-width read means the monitor regressed)")
    // recall floor vs the exact baseline over the SAME live corpus
    // (the ivf_incr floor at nprobe 8)
    val brute = Similarity.bruteTopK(
      emb.filter(col("vec_id") < Similarity.NumQueries || col("vec_id") % graft.streaming.Events.AnnRemovalMod =!= 0))
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = streamed.count(r => brute((r.getLong(0), r.getLong(2))))
    assert(hits >= 0.7 * brute.size, s"recall ${hits.toDouble / brute.size} under floor")
    // no removed vector survives in any result list
    assert(streamed.forall(_.getLong(2) % graft.streaming.Events.AnnRemovalMod != 0), "a removed vector was returned")
    // in-stream compaction every epoch (r13: assign chain folded
    // tombstone-resolved with its bucket layout, cellstats chain folded
    // through the ADDITIVE sum-merge compactor) must not perturb a
    // single result row — the swap machinery firing between live
    // micro-batches over a store still carrying unconsumed tombstones —
    // and the drift monitor summed over the FOLDED stats chain must
    // still land on the one-shot live occupancy (a duplicate or lost
    // row in the fold shifts a sum)
    val statsProbeC = scala.collection.mutable.ListBuffer.empty[(Long, Seq[(Int, Long)])]
    val compacted = Events.ingestAnnIvf(spark, TestSpark.sf, compactEvery = 1,
      cellStatsProbe = Some(statsProbeC))
      .collect().toSeq
    assert(compacted == batch, "per-epoch compaction changed the converged ANN result")
    assert(statsProbeC.toMap.apply(2L) == oneShot,
      "folded cellstats chain diverged from the one-shot live occupancy")
  }

  /** The migrate staging's fresh-v2 truth, reconstructed in closed
    * form (VERDICT r15 #1): v2 trains on the live corpus at the trip
    * epoch (base ∪ shifted wave — the same deterministic sample order
    * the loop uses), assignment is the frozen kernel over the FINAL
    * live corpus (%AnnRemovalMod removed; the %10 re-deliveries are
    * identical), rerank against the live vectors. */
  private def migrateFreshBuild(): (Seq[org.apache.spark.sql.Row], Set[(Long, Long)]) = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.filter(col("vec_id") >= Similarity.NumQueries)
    val wave = Events.driftShift(corpus.filter(col("vec_id") % 5 === 0))
    val m0Corpus = corpus.filter(col("vec_id") % 5 =!= 0).unionByName(wave)
    val finalCorpus = m0Corpus.filter(col("vec_id") % Events.AnnRemovalMod =!= 0)
    val embLive = emb.filter(col("vec_id") < Similarity.NumQueries)
      .unionByName(finalCorpus)
    val v2 = Similarity.ivfTrain(m0Corpus.orderBy(col("vec_id")))
    val fresh = Similarity.ivfTopKFromIndex(embLive,
      Similarity.ivfAssign(finalCorpus, v2), v2, k = 5, nprobe = 8).collect().toSeq
    val brute = Similarity.bruteTopK(embLive)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (fresh, brute)
  }

  test("IVF drift migration: the wave trips the monitor, the loop migrates mid-stream, cutover equals a fresh v2 build") {
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val streamed = Events.ingestAnnIvf(spark, TestSpark.sf,
      driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
      driftWaveArrival2 = true, migrationProbe = Some(probe)).collect().toSeq
    val events = probe.sortBy(_._1)
    // the monitor must stay quiet on the stable bootstrap and trip on
    // the wave epoch — then train v2 exactly once
    assert(!events.exists(e => e._1 == 0L && e._2.contains("trip")),
      s"tripped at bootstrap: $events")
    assert(events.exists(e => e._1 == 1L && e._2.contains("trip")),
      s"no trip at the wave epoch: $events")
    assert(events.count(_._2.contains("g2-trained")) == 1, s"events: $events")
    // the background re-assignment SPANS epochs (32 buckets at
    // 16/epoch) and the cutover lands at the second — a mid-stream
    // migration, not a stop-the-world rebuild
    assert(events.exists(e => e._1 == 1L && e._2.contains("chunk=[0,15]")) &&
      events.exists(e => e._1 == 2L && e._2.contains("chunk=[16,31]")),
      s"chunks did not span epochs: $events")
    assert(events.count(_._2.contains("cutover")) == 1 &&
      events.exists(e => e._1 == 2L && e._2.contains("cutover")),
      s"cutover events: $events")
    // post-cutover top-k equals the fresh v2 build VERBATIM, and the
    // ivf_incr recall floor holds through the migration
    val (fresh, brute) = migrateFreshBuild()
    assert(streamed.nonEmpty && streamed == fresh,
      "post-cutover top-k diverged from the fresh v2 build")
    val hits = streamed.count(r => brute((r.getLong(0), r.getLong(2))))
    assert(hits >= 0.7 * brute.size,
      s"recall through the migration ${hits.toDouble / brute.size} under the 0.7 floor")
  }

  test("IVF drift migration: stable arrivals never trip; the crash-replayed cutover epoch converges") {
    // falsifiability: monitor armed, staging UNdrifted — no trip, no
    // migration, the consumer keeps serving v1
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val undrifted = Events.ingestAnnIvf(spark, TestSpark.sf,
      driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
      migrationProbe = Some(probe)).collect().toSeq
    assert(undrifted.nonEmpty)
    assert(probe.nonEmpty && !probe.exists(_._2.contains("trip")),
      s"a distribution-stable corpus tripped the monitor: $probe")
    // crash at the cutover epoch (post-write, pre-checkpoint-commit):
    // the replay sees the marker already flipped and re-lands its
    // idempotent v2 delta — converging to the same fresh build
    val crashed = Events.ingestAnnIvf(spark, TestSpark.sf,
      driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
      driftWaveArrival2 = true, crashAtEpoch = Some(2L)).collect().toSeq
    val (fresh, _) = migrateFreshBuild()
    assert(crashed.nonEmpty && crashed == fresh,
      "crash-replayed migration diverged from the fresh v2 build")
  }

  test("IVF drift migration is REPEATABLE: a second wave drives v2→v3, drained generations retire, the gate reads scalar chains") {
    import graft.operators.Similarity
    // VERDICT r16 #1/#2/#3: the migration must OPERATE, not perform
    // once — a second engineered drift (the wave slice re-delivered on
    // the OPPOSITE side of the base cloud) has to trip generation 2's
    // own monitor through the re-armed check, build generation 3 in
    // the background on the same code path, cut over exactly once
    // more, and retire each drained generation's chains on the
    // compaction cadence; the completeness gate must read only the
    // additive stats chains (scalar rows), never the corpus-width
    // vector/assign chains.
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val gate = scala.collection.mutable.ListBuffer.empty[(Long, Int, Long)]
    val gens = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Int])]
    val streamed = Events.ingestAnnIvf(spark, TestSpark.sf,
      driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
      driftWaveArrival2 = true, driftSecondWave = true, compactEvery = 1,
      migrationProbe = Some(probe), gateInputProbe = Some(gate),
      generationsProbe = Some(gens)).collect().toSeq
    val events = probe.sortBy(_._1)
    // two trips at the two wave epochs — and ONLY there
    assert(events.exists(e => e._1 == 1L && e._2.contains("trip")) &&
      events.exists(e => e._1 == 3L && e._2.contains("trip")) &&
      events.count(_._2.contains("trip")) == 2, s"trips: $events")
    // one training per target generation, through the same code path
    assert(events.count(_._2.contains("g2-trained")) == 1 &&
      events.count(_._2.contains("g3-trained")) == 1, s"trainings: $events")
    // each migration cuts over exactly once, two epochs after its trip
    // (32 buckets at 16/epoch — background chunks, not stop-the-world)
    assert(events.exists(e => e._1 == 2L && e._2.contains("cutover")) &&
      events.exists(e => e._1 == 4L && e._2.contains("cutover")) &&
      events.count(_._2.contains("cutover")) == 2, s"cutovers: $events")
    // epoch 5: the second migration's marker cleaned up, the trip
    // RE-ARMED off generation 3's own stats chain — polled (share
    // note present) and quiet on the identical re-delivery
    assert(events.exists(e => e._1 == 5L && e._2.contains("share=") &&
      !e._2.contains("trip")), s"no re-armed quiet poll at epoch 5: $events")
    // drained generations retire on the compaction cadence: gen 1's
    // chains survive through its own migration window and die at the
    // first post-cutover compaction (epoch 3); gen 2's die at epoch 5
    val gensByEpoch = gens.toMap
    assert(gensByEpoch(0L) == Seq(1) && gensByEpoch(1L) == Seq(1, 2) &&
      gensByEpoch(2L) == Seq(1, 2), s"pre-retirement generations: $gens")
    assert(gensByEpoch(3L) == Seq(2, 3), s"gen 1 not retired at epoch 3: $gens")
    assert(gensByEpoch(5L) == Seq(3), s"gen 2 not retired at epoch 5: $gens")
    // the completeness gate's reads are stats-chain-sized (≤ 2·nCells
    // rows per epoch per generation), never corpus-width (r16 #2) —
    // the corpus is ~99x the bound at this SF
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.filter(col("vec_id") >= Similarity.NumQueries)
    val corpusN = corpus.count()
    assert(gate.nonEmpty && gate.forall { case (e, _, rows) =>
      rows <= (e + 1) * 32 && rows < corpusN },
      s"completeness gate read more than the stats chains (corpus $corpusN): $gate")
    // post-second-cutover top-k equals a fresh v3 build VERBATIM over
    // the closed-form final live corpus (wave slice at −shift), and
    // the recall floor holds through BOTH migrations
    val liveWave = Events.driftShiftBy(
      corpus.filter(col("vec_id") % 5 === 0 &&
        col("vec_id") % Events.AnnRemovalMod =!= 0), -Events.DriftWaveShift)
    val liveFinal = corpus.filter(col("vec_id") % 5 =!= 0 &&
        col("vec_id") % Events.AnnRemovalMod =!= 0)
      .unionByName(liveWave)
    val embLive = emb.filter(col("vec_id") < Similarity.NumQueries)
      .unionByName(liveFinal)
    val v3 = Similarity.ivfTrain(liveFinal.orderBy(col("vec_id")))
    val fresh = Similarity.ivfTopKFromIndex(embLive,
      Similarity.ivfAssign(liveFinal, v3), v3, k = 5, nprobe = 8).collect().toSeq
    assert(streamed.nonEmpty && streamed == fresh,
      "post-second-cutover top-k diverged from the fresh v3 build")
    val brute = Similarity.bruteTopK(embLive)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = streamed.count(r => brute((r.getLong(0), r.getLong(2))))
    assert(hits >= 0.7 * brute.size,
      s"recall through two migrations ${hits.toDouble / brute.size} under the 0.7 floor")
  }

  /** The classifier migrate staging's fresh generation-2 truth in
    * closed form: the model fit over the designated re-label slice
    * (%3==0 of the SHIFTED corpus), scoring the whole shifted corpus. */
  private def classifyMigrateFreshBuild(): Seq[(Long, Boolean, String, Double, Boolean)] = {
    import graft.operators.Classifier
    val shifted = Events.classifyShiftedCorpus(Tables.documents(spark, TestSpark.sf))
    val freshModel = Classifier.fit(
      Classifier.featurized(shifted.filter(col("doc_id") % Events.ReLabelMod === 0)))
    Classifier.score(Classifier.featurized(shifted), freshModel)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
  }

  private def assertClassifyEquals(
      got: Seq[(Long, Boolean, String, Double, Boolean)],
      want: Seq[(Long, Boolean, String, Double, Boolean)], what: String): Unit = {
    assert(got.nonEmpty && got.size == want.size, s"$what: ${got.size} vs ${want.size} rows")
    got.zip(want).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3 && s._5 == b._5,
        s"$what: discrete field drifted: $s vs $b")
      assert(math.abs(s._4 - b._4) <= 1e-6, s"$what: prob drifted: $s vs $b")
    }
  }

  test("classifier drift migration: the label shift trips the alarm, generation 2 trains on the re-label arrival, cutover equals a fresh build") {
    // VERDICT r16 top ask — the consumer the positive-rate drift alarm
    // exists for, mirroring the IVF migration's generational scheme:
    // trip on the engineered label shift (never at bootstrap), train on
    // the DESIGNATED RE-LABEL ARRIVAL (the first arrival after the
    // trip — the trip epoch itself must wait), backfill old docs from
    // the stored feature chain in bucket-cursor chunks, cut over on the
    // scalar-chain completeness gate, re-arm, and retire the drained
    // generation on the compaction cadence.
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val gate = scala.collection.mutable.ListBuffer.empty[(Long, Int, Long)]
    val gens = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Int])]
    val streamed = Events.ingestClassify(spark, TestSpark.sf,
      driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
      labelShiftArrival2 = true, compactEvery = 1,
      migrationProbe = Some(probe), gateInputProbe = Some(gate),
      generationsProbe = Some(gens))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val events = probe.sortBy(_._1)
    // quiet at bootstrap, trip exactly once at the wave epoch — and the
    // trip epoch does NOT train (the re-label contract: the labeled
    // sample arrives in RESPONSE to the alarm)
    assert(!events.exists(e => e._1 == 0L && e._2.contains("trip")),
      s"tripped at bootstrap: $events")
    assert(events.exists(e => e._1 == 1L && e._2.contains("trip") &&
      e._2.contains("awaiting-relabel")) &&
      events.count(_._2.contains("trip")) == 1, s"trips: $events")
    assert(events.count(_._2.contains("g2-trained")) == 1 &&
      events.exists(e => e._1 == 2L && e._2.contains("g2-trained")),
      s"trainings: $events")
    // background chunks span epochs; cutover exactly once, at the
    // completeness epoch
    assert(events.exists(e => e._1 == 2L && e._2.contains("chunk=[0,15]")) &&
      events.exists(e => e._1 == 3L && e._2.contains("chunk=[16,31]")),
      s"chunks did not span epochs: $events")
    assert(events.count(_._2.contains("cutover")) == 1 &&
      events.exists(e => e._1 == 3L && e._2.contains("cutover")),
      s"cutovers: $events")
    // epoch 4: the migration marker cleaned up, the trip RE-ARMED off
    // generation 2's own baseline — polled and quiet on the uniform
    // re-delivery
    assert(events.exists(e => e._1 == 4L && e._2.contains("rate=") &&
      !e._2.contains("trip")), s"no re-armed quiet poll at epoch 4: $events")
    // the drained generation's chains retire at the first post-cutover
    // compaction
    val gensByEpoch = gens.toMap
    assert(gensByEpoch(2L) == Seq(1, 2) && gensByEpoch(3L) == Seq(1, 2),
      s"pre-retirement generations: $gens")
    assert(gensByEpoch(4L) == Seq(2), s"gen 1 not retired at epoch 4: $gens")
    // the completeness gate reads the 1-row-per-epoch additive count
    // chains, never the corpus (r16 #2 discipline)
    val corpusN = Tables.documents(spark, TestSpark.sf).count()
    assert(gate.nonEmpty && gate.forall { case (e, _, rows) =>
      rows <= e + 1 && rows < corpusN },
      s"completeness gate read more than the count chains (corpus $corpusN): $gate")
    // post-cutover scores equal the fresh generation-2 build (discrete
    // fields verbatim, probs at the treeAggregate combine tolerance)
    assertClassifyEquals(streamed, classifyMigrateFreshBuild(),
      "migrated vs fresh g2")
  }

  test("classifier drift migration: stable arrivals never trip; the crash-replayed cutover epoch converges") {
    import graft.operators.Classifier
    // falsifiability: monitor armed, staging UNshifted — no trip, no
    // migration, the converged relation is still the batch twin's
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val undrifted = Events.ingestClassify(spark, TestSpark.sf,
      driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
      migrationProbe = Some(probe))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(probe.nonEmpty && !probe.exists(_._2.contains("trip")),
      s"a distribution-stable corpus tripped the monitor: $probe")
    val batch = Classifier.classify(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assertClassifyEquals(undrifted, batch, "armed-but-stable vs batch twin")
    // crash at the cutover epoch (post-write, pre-checkpoint-commit):
    // the replay reconstructs in-flight roles off the markers and
    // re-lands its idempotent deltas — converging to the fresh build
    val crashed = Events.ingestClassify(spark, TestSpark.sf,
      driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
      labelShiftArrival2 = true, crashAtEpoch = Some(3L))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assertClassifyEquals(crashed, classifyMigrateFreshBuild(),
      "crash-replayed migration vs fresh g2")
  }

  test("classifier drift migration: a crash at the TRIP epoch replays idempotently over the durable migration marker") {
    // VERDICT r17 #2's companion leg: the injected crash fires at the
    // END of the trip epoch's foreachBatch — AFTER the migration-marker
    // write, BEFORE the streaming checkpoint commits. The replayed
    // epoch re-enters with the marker already durable: generationRoles
    // must hand it IN-FLIGHT roles (the migInFlight arm short-circuits
    // the trip check, so the marker is never re-written and no second
    // migration starts), its deltas overwrite idempotently, and the run
    // converges to the fresh generation-2 build like the uncrashed
    // staging. The probe's epoch-1 entry is the REPLAY's (probeAdd
    // supersedes): no "trip" token — the replay saw in-flight roles —
    // but still awaiting-relabel, and the trip never re-fires later.
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val crashed = Events.ingestClassify(spark, TestSpark.sf,
      driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
      labelShiftArrival2 = true, crashAtEpoch = Some(1L),
      migrationProbe = Some(probe))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val events = probe.sortBy(_._1)
    assert(events.exists(e => e._1 == 1L && e._2.contains("awaiting-relabel")),
      s"replayed trip epoch did not wait for the re-label arrival: $events")
    assert(!events.exists(e => e._1 > 1L && e._2.contains("trip")),
      s"the replayed marker re-tripped a second migration: $events")
    assert(events.count(_._2.contains("cutover")) == 1 &&
      events.count(_._2.contains("g2-trained")) == 1,
      s"cutover/training not exactly-once under the trip-epoch replay: $events")
    assertClassifyEquals(crashed, classifyMigrateFreshBuild(),
      "crash-at-trip migration vs fresh g2")
  }

  test("generation markers parse defensively: well-formed round-trips, malformed fails with the path and contents") {
    // ADVICE r17: the markers are written atomic tmp+move, so a
    // malformed file means external interference — the parse must fail
    // diagnosably, never with a bare MatchError deep inside foreachBatch
    val dir = java.nio.file.Files.createTempDirectory("graft_marker_spec")
    try {
      val p = dir.resolve("active_gen")
      assert(Events.readGenMarker(p).isEmpty, "absent marker must read None")
      java.nio.file.Files.write(p, "3@17".getBytes("UTF-8"))
      assert(Events.readGenMarker(p).contains((3, 17L)))
      for (bad <- Seq("", "3", "@", "3@", "@17", "g@17", "3@e", "3@17@4")) {
        java.nio.file.Files.write(p, bad.getBytes("UTF-8"))
        val e = intercept[IllegalStateException](Events.readGenMarker(p))
        assert(e.getMessage.contains(p.toString) && e.getMessage.contains(bad),
          s"marker error for '$bad' lacks the path or contents: ${e.getMessage}")
      }
    } finally {
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }

  test("classifier drift migration is REPEATABLE: a second label shift drives g2→g3, drained generations retire, equals a fresh g3 build") {
    import graft.operators.Classifier
    // VERDICT r18 #5 — the classifier instance of the ANN two-wave
    // leg: the migration must OPERATE, not perform once. A second
    // engineered label shift (the %5==1 slice re-delivered with the
    // shift suffix) has to trip generation 2's OWN monitor through the
    // re-armed check, train generation 3 on its designated re-label
    // arrival, background-chunk the old corpus, cut over exactly once
    // more, and retire each drained generation on the compaction
    // cadence — all on the same code path as wave 1.
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val gate = scala.collection.mutable.ListBuffer.empty[(Long, Int, Long)]
    val gens = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Int])]
    val streamed = Events.ingestClassify(spark, TestSpark.sf,
      driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
      labelShiftArrival2 = true, labelSecondWave = true, compactEvery = 1,
      migrationProbe = Some(probe), gateInputProbe = Some(gate),
      generationsProbe = Some(gens))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val events = probe.sortBy(_._1)
    // two trips at the two wave epochs — and ONLY there; each trip
    // epoch waits for its re-label arrival (the re-label contract)
    assert(events.exists(e => e._1 == 1L && e._2.contains("trip")) &&
      events.exists(e => e._1 == 5L && e._2.contains("trip")) &&
      events.count(_._2.contains("trip")) == 2, s"trips: $events")
    assert(events.exists(e => e._1 == 5L && e._2.contains("awaiting-relabel")),
      s"second trip epoch did not wait for the re-label arrival: $events")
    // one training per target generation, through the same code path
    assert(events.count(_._2.contains("g2-trained")) == 1 &&
      events.count(_._2.contains("g3-trained")) == 1, s"trainings: $events")
    // wave 2's background chunks span epochs like wave 1's; each
    // migration cuts over exactly once, at its completeness epoch
    assert(events.exists(e => e._1 == 6L && e._2.contains("chunk=[0,15]")) &&
      events.exists(e => e._1 == 7L && e._2.contains("chunk=[16,31]")),
      s"wave-2 chunks did not span epochs: $events")
    assert(events.exists(e => e._1 == 3L && e._2.contains("cutover")) &&
      events.exists(e => e._1 == 7L && e._2.contains("cutover")) &&
      events.count(_._2.contains("cutover")) == 2, s"cutovers: $events")
    // epoch 8: the second migration's marker cleaned up, the trip
    // RE-ARMED off generation 3's own baseline — polled (rate note
    // present) and quiet on the uniform re-delivery
    assert(events.exists(e => e._1 == 8L && e._2.contains("rate=") &&
      !e._2.contains("trip")), s"no re-armed quiet poll at epoch 8: $events")
    // drained generations retire on the compaction cadence: gen 1 dies
    // at the first post-cutover compaction (epoch 4), gen 2 at epoch 8
    val gensByEpoch = gens.toMap
    assert(gensByEpoch(3L) == Seq(1, 2) && gensByEpoch(4L) == Seq(2),
      s"gen 1 not retired at epoch 4: $gens")
    assert(gensByEpoch(6L) == Seq(2, 3) && gensByEpoch(7L) == Seq(2, 3),
      s"pre-retirement generations: $gens")
    assert(gensByEpoch(8L) == Seq(3), s"gen 2 not retired at epoch 8: $gens")
    // the completeness gate reads the 1-row-per-epoch additive count
    // chains, never the corpus (r16 #2 discipline) — through BOTH waves
    val corpusN = Tables.documents(spark, TestSpark.sf).count()
    assert(gate.nonEmpty && gate.forall { case (e, _, rows) =>
      rows <= e + 1 && rows < corpusN },
      s"completeness gate read more than the count chains (corpus $corpusN): $gate")
    // post-second-cutover scores equal a fresh generation-3 build over
    // the closed-form twice-shifted corpus
    val shifted2 = Events.classifyShifted2Corpus(Tables.documents(spark, TestSpark.sf))
    val fresh = Classifier.score(Classifier.featurized(shifted2),
      Classifier.fit(Classifier.featurized(
        shifted2.filter(col("doc_id") % Events.ReLabelMod === 0))))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assertClassifyEquals(streamed, fresh, "two-wave migrated vs fresh g3")
  }

  test("externally deleting the drift baseline fails loudly at the next scored epoch — never a silent rebaseline") {
    // ADVICE r18 medium: the r17 replay-repair fired on ANY epoch that
    // found the baseline missing, silently rebaselining an externally
    // deleted file to the current epoch's rate (r == base that epoch,
    // so drift that already happened could never trip) — the exact
    // disarm the guard claims to prevent. With the repair gated on the
    // durable training-epoch marker, deletion at a later epoch must
    // reach the trip check's loud IllegalStateException.
    val tamper: (Long, java.nio.file.Path) => Unit = (epoch, store) =>
      if (epoch == 2L)
        java.nio.file.Files.deleteIfExists(store.resolve("posrate_g1"))
    val e = intercept[Exception] {
      Events.ingestClassify(spark, TestSpark.sf,
        driftPosRateJump = Some(Events.DriftPosRateJumpDefault),
        storeTamper = Some(tamper))
    }
    def causes(t: Throwable, seen: Set[Throwable] = Set.empty): List[Throwable] =
      if (t == null || seen(t)) Nil else t :: causes(t.getCause, seen + t)
    assert(causes(e).exists(c =>
      String.valueOf(c.getMessage).contains("drift baseline missing")),
      s"deletion did not reach the loud guard: $e")
  }

  test("keyedMismatchCount flags duplicate keys, side-count skew and null drift — not just field mismatches") {
    // ADVICE r18 low: the first full-outer shape passed a side whose
    // duplicate doc_id rows matched the partner field-by-field — the
    // row-count leg the old collect-and-zip comparison carried. The
    // per-key pre-aggregation (cnt != 1) restores it in the same
    // single-scalar job.
    import spark.implicits._
    val want = Seq((1L, true, "train", 0.9, true), (2L, false, "holdout", 0.2, false))
      .toDF("doc_id", "label", "split", "prob", "pred")
    assert(Events.scoredMismatchCount(want, want) == 0L)
    // a duplicated row whose fields MATCH the partner still counts
    val dup = want.union(want.filter(col("doc_id") === 1L))
    assert(Events.scoredMismatchCount(dup, want) == 1L, "duplicate got-side row passed")
    assert(Events.scoredMismatchCount(want, dup) == 1L, "duplicate want-side row passed")
    // a key present on one side only counts once
    assert(Events.scoredMismatchCount(want.filter(col("doc_id") === 1L), want) == 1L)
    // prob drift beyond tol counts; within tol does not
    val nudged = want.withColumn("prob",
      when(col("doc_id") === 1L, col("prob") + 1e-3).otherwise(col("prob")))
    assert(Events.scoredMismatchCount(nudged, want) == 1L)
    assert(Events.scoredMismatchCount(nudged, want, tol = 1e-2) == 0L)
    // null-safe exact compare (the neardup twins' nullable partner_id):
    // null == null passes, null vs value counts
    val a = Seq((1L, Option(2L)), (2L, Option.empty[Long])).toDF("doc_id", "partner_id")
    val b = Seq((1L, Option(2L)), (2L, Option(3L))).toDF("doc_id", "partner_id")
    assert(Events.keyedMismatchCount(a, a, "doc_id", Seq("partner_id")) == 0L)
    assert(Events.keyedMismatchCount(a, b, "doc_id", Seq("partner_id")) == 1L)
  }

  test("FrozenStoreMemo: one load per store fingerprint, rotates on overwrite, defers without _SUCCESS") {
    // r19: the resident-model/centroid memo. Pure file-level contract —
    // no Spark needed: the fingerprint is (_SUCCESS mtime, Σ file
    // sizes), and `load` is an arbitrary thunk.
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec")
    try {
      val data = dir.resolve("part-0")
      val ok = dir.resolve("_SUCCESS")
      var loads = 0
      def get(): String =
        Events.FrozenStoreMemo.cached(dir.toString) { loads += 1; s"v$loads" }
      // no _SUCCESS: every call defers to the raw load, nothing cached
      assert(get() == "v1" && get() == "v2",
        "an uncommitted store must never be served from the memo")
      java.nio.file.Files.write(data, "abc".getBytes("UTF-8"))
      java.nio.file.Files.write(ok, Array.emptyByteArray)
      assert(get() == "v3" && get() == "v3",
        "a committed store loads once and is then served resident")
      // overwrite changes the summed size → the key rotates even if the
      // marker mtime collides within one clock tick (the replay case)
      java.nio.file.Files.write(data, "abcd".getBytes("UTF-8"))
      assert(get() == "v4" && get() == "v4",
        "an overwritten store (training-epoch replay) must be re-read")
      // r20 (ADVICE r19): the fingerprint walks the WHOLE tree — a
      // data-file change inside a SUBDIRECTORY (nested/partitioned
      // store layout) must rotate the key even though the top-level
      // listing is unchanged
      val sub = java.nio.file.Files.createDirectory(dir.resolve("part=0"))
      val nested = java.nio.file.Files.write(sub.resolve("data"),
        "x".getBytes("UTF-8"))
      assert(get() == "v5" && get() == "v5",
        "a new nested data file must rotate the key")
      java.nio.file.Files.write(nested, "xy".getBytes("UTF-8"))
      assert(get() == "v6",
        "a nested data-file rewrite must rotate the key")
      java.nio.file.Files.delete(nested)
      java.nio.file.Files.delete(sub)
    } finally {
      Events.FrozenStoreMemo.clear()
      Seq("part-0", "_SUCCESS").foreach(f =>
        java.nio.file.Files.deleteIfExists(dir.resolve(f)))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("FrozenStoreMemo: LRU eviction keeps hot entries instead of clearing the cache") {
    // r20 (ADVICE r19): eviction was `if (size > Max) cache.clear()` —
    // a wholesale clear that dropped hot entries and forced a reload
    // burst. Now an access-ordered LRU: overflow evicts the coldest
    // entry only, and a just-touched entry survives.
    val base = java.nio.file.Files.createTempDirectory("graft_memo_lru")
    def store(i: Int): String = {
      val d = java.nio.file.Files.createDirectories(base.resolve(s"s$i"))
      java.nio.file.Files.write(d.resolve("part-0"), s"data$i".getBytes("UTF-8"))
      java.nio.file.Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
      d.toString
    }
    try {
      Events.FrozenStoreMemo.clear()
      var loads = 0
      def get(dir: String): String =
        Events.FrozenStoreMemo.cached(dir) { loads += 1; dir }
      val hot = store(0)
      get(hot)
      // fill past MaxEntries (64), touching `hot` along the way so LRU
      // order keeps it warm
      (1 to 70).foreach { i => get(store(i)); if (i % 10 == 0) get(hot) }
      assert(Events.FrozenStoreMemo.size <= 64,
        s"cache exceeded its bound: ${Events.FrozenStoreMemo.size}")
      val before = loads
      get(hot)
      assert(loads == before,
        "the hot entry was evicted — eviction regressed to clear-all")
    } finally {
      Events.FrozenStoreMemo.clear()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("FrozenStoreMemo: trees with equal summed count/bytes/mtime still get distinct entries") {
    // a key that folds count·1000003 + bytes + max mtime into one Long
    // lets a rewrite with 5 fewer bytes and an mtime 5 ms newer (same
    // _SUCCESS mtime) alias the tree it replaced
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_collide")
    try {
      Events.FrozenStoreMemo.clear()
      val data = dir.resolve("part-0").toFile
      val ok = dir.resolve("_SUCCESS").toFile
      val t0 = 1700000000000L
      java.nio.file.Files.write(data.toPath, "0123456789".getBytes("UTF-8"))
      java.nio.file.Files.write(ok.toPath, Array.emptyByteArray)
      assert(ok.setLastModified(t0) && data.setLastModified(t0 + 10000L))
      var loads = 0
      def get(): String =
        Events.FrozenStoreMemo.cached(dir.toString) { loads += 1; s"v$loads" }
      assert(get() == "v1" && get() == "v1")
      // old folded value: 2·1000003 + 10 + (t0+10000) for the first
      // tree, 2·1000003 + 5 + (t0+10005) for the second — equal
      java.nio.file.Files.write(data.toPath, "01234".getBytes("UTF-8"))
      assert(data.setLastModified(t0 + 10005L) && ok.setLastModified(t0))
      assert(data.lastModified == t0 + 10005L && ok.lastModified == t0,
        "the filesystem must keep millisecond mtimes for this leg")
      assert(get() == "v2",
        "a different tree with the same summed fingerprint shared a cache entry")
    } finally {
      Events.FrozenStoreMemo.clear()
      Seq("part-0", "_SUCCESS").foreach(f =>
        java.nio.file.Files.deleteIfExists(dir.resolve(f)))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("concurrentWrites: every task runs even when one fails, the first failure propagates, single-task falls back inline") {
    // r20 (guide §2.6): the loops submit independent per-epoch store
    // writes from a pool. The harness contract the epochs lean on: ALL
    // submitted writes are awaited (a failure must not leave an
    // in-flight write racing the epoch's finally-releases), the first
    // failure reaches the caller, and a 0/1-task group never pays for
    // a pool.
    val ran = new java.util.concurrent.atomic.AtomicInteger
    Events.concurrentWrites(Seq(
      () => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () }))
    assert(ran.get == 3)
    val ran2 = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[RuntimeException](Events.concurrentWrites(Seq(
      () => { ran2.incrementAndGet(); () },
      () => throw new RuntimeException("boom"),
      () => { ran2.incrementAndGet(); () })))
    assert(e.getMessage == "boom", s"wrong failure surfaced: $e")
    assert(ran2.get == 2, "a sibling write was abandoned on failure")
    val ran3 = new java.util.concurrent.atomic.AtomicInteger
    Events.concurrentWrites(Seq(() => { ran3.incrementAndGet(); () }))
    Events.concurrentWrites(Seq.empty)
    assert(ran3.get == 1)
  }

  test("concurrentWrites: later failures ride as suppressed; an interrupted caller cancels, awaits the pool and rethrows") {
    // two failures: the first in submission order surfaces, the second
    // is attached to it instead of dropped
    val e = intercept[RuntimeException](Events.concurrentWrites(Seq(
      () => throw new RuntimeException("first"),
      () => (),
      () => throw new IllegalStateException("later"))))
    assert(e.getMessage == "first" &&
      e.getSuppressed.map(_.getMessage).toSeq == Seq("later"), s"$e ${e.getSuppressed.toSeq}")
    // interrupt leg: one write blocks until interrupted, one has failed,
    // then the CALLER is interrupted while it waits on the group
    val blocked = new java.util.concurrent.CountDownLatch(1)
    val failed = new java.util.concurrent.CountDownLatch(1)
    val blockerExited = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var caught: Throwable = null
    @volatile var exitedBeforeReturn = false
    val caller = new Thread(() =>
      try Events.concurrentWrites(Seq(
        () => try { blocked.countDown(); Thread.sleep(120000L) }
              finally blockerExited.set(true),
        () => try throw new RuntimeException("write failed") finally failed.countDown()))
      catch { case t: Throwable =>
        exitedBeforeReturn = blockerExited.get
        caught = t
      })
    caller.start()
    assert(blocked.await(30, java.util.concurrent.TimeUnit.SECONDS) &&
      failed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(500) // let the failed future settle to done: cancel only takes a running one
    caller.interrupt()
    caller.join(30000L)
    assert(!caller.isAlive, "an interrupted caller must not wait out the blocked write")
    assert(caught.isInstanceOf[InterruptedException], s"wrong exception surfaced: $caught")
    assert(exitedBeforeReturn, "the blocked write was still running when the call returned")
    assert(caught.getSuppressed.map(_.getMessage).toSeq == Seq("write failed"),
      s"the failed write was dropped: ${caught.getSuppressed.toSeq}")
  }

  test("stream_ingest_neardup survives a crash BETWEEN the concurrent store group and the verdict write") {
    // r20 (VERDICT r19 #4): the epoch's tombstone/shingle/band deltas
    // are submitted from a thread pool; this hook dies AFTER the
    // group's barrier and BEFORE anything reads the deltas back or the
    // committing verdict write runs — the torn state the parallel
    // group can strand (every non-committing delta on disk, no
    // verdict, no stream commit). The replay must re-derive the same
    // deltas and overwrite each idempotently whatever subset order the
    // pool landed them in, and still converge to the batch twin.
    // Epoch 2 = the removal epoch (retirement + blast radius — the
    // epoch where all THREE group members are live).
    val got = Events.ingestNearDup(spark, TestSpark.sf,
      crashAfterStores = Some(2L)).collect().toSeq
    val want = graft.operators.Dedup.minhashNearDupVerdict(
      Tables.documents(spark, TestSpark.sf)).collect().toSeq
    assert(got.nonEmpty && got == want,
      "post-stores pre-verdict crash replay diverged from the batch twin")
  }

  test("OracleMemo: disabled by default, one compute per (kind, sfDir), distinct keys get distinct files, clear() removes the scratch") {
    // VERDICT r18 #6: the memo changes Verify's oracle dataflow (it is
    // enabled ONLY by graft.Verify, which clears it in a finally;
    // nothing in graft.Bench references it, so a bench run's oracle
    // path always computes fresh — pinned here as disabled-by-default).
    import spark.implicits._
    val memo = Events.OracleMemo
    memo.clear() // pristine even if a prior leg enabled it
    assert(!memo.enabled, "memo must be disabled by default")
    var n = 0
    def compute(tag: String) = { n += 1; Seq((tag, n)).toDF("tag", "n") }
    memo.exactPairs(spark, "/tmp/sfA")(compute("a"))
    memo.exactPairs(spark, "/tmp/sfA")(compute("a"))
    assert(n == 2, "disabled memo must compute fresh on every call")
    memo.enable()
    try {
      assert(memo.enabled)
      n = 0
      val a = memo.exactPairs(spark, "/tmp/sfA")(compute("a"))
      memo.exactPairs(spark, "/tmp/sfA")(compute("a"))
      assert(n == 1, "enabled memo must compute once per sfDir")
      // a second sfDir and a second RELATION for the same sfDir each
      // get their own memo file (ADVICE r18: the old dir name was the
      // racy paths.size(), and the key ignored the compute identity)
      val b = memo.exactPairs(spark, "/tmp/sfB")(compute("b"))
      val c = memo.memo(spark, "other_relation", "/tmp/sfA")(compute("c"))
      assert(n == 3)
      assert(a.select("tag").head().getString(0) == "a" &&
        b.select("tag").head().getString(0) == "b" &&
        c.select("tag").head().getString(0) == "c",
        "distinct memo keys aliased one scratch file")
      val memoDir = java.nio.file.Paths
        .get(new java.net.URI(a.inputFiles.head)).getParent
      assert(java.nio.file.Files.isDirectory(memoDir))
      memo.clear()
      assert(!java.nio.file.Files.exists(memoDir),
        "clear() left the memo scratch dir behind")
      // post-clear calls compute fresh again (Verify's finally path)
      memo.exactPairs(spark, "/tmp/sfA")(compute("a"))
      assert(n == 4)
    } finally memo.clear()
  }

  test("stream_ingest_classify converges to the batch-trained scoring, appends only deltas") {
    import graft.operators.Classifier
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    val streamed = Events.ingestClassify(spark, TestSpark.sf, deltaProbe = Some(probe))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    // batch twin: the trainer's train split IS the first arrival
    // (doc_id % 5 != 0), so classify()'s model is the stream's frozen
    // model up to treeAggregate combine order (~1e-12 on weights) —
    // probs equal to 1e-6, everything discrete verbatim
    val batch = Classifier.classify(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(streamed.nonEmpty && streamed.size == batch.size)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3 && s._5 == b._5,
        s"discrete field drifted: $s vs $b")
      assert(math.abs(s._4 - b._4) <= 1e-6, s"prob drifted: $s vs $b")
    }
    // the label bites both ways on the testdata
    assert(streamed.exists(_._2) && streamed.exists(!_._2), "degenerate label")
    // per-epoch writes are exactly the arrivals — scoring never
    // re-touches prior epochs. Arrival 2 carries the negative-id
    // shadows (scored by the frozen model); arrival 3 retracts them
    // tombstone-only AND re-delivers the %10 docs with identical text
    // — the frozen model re-scores exactly those, their old rows die
    // under the supersede tombstone, and the verbatim equality above
    // proves no duplicate row survived (VERDICT r12 #1: before the
    // supersede, a re-scored doc surfaced twice in the consumer view)
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs.count(); val second = docs.filter(col("doc_id") % 5 === 0).count()
    val shadows = docs.filter(col("doc_id") % graft.streaming.Events.ShadowMod === graft.streaming.Events.ShadowRem).count()
    val redeliveredN = docs.filter(col("doc_id") % graft.streaming.Events.RedeliveryMod === 0).count()
    // the EARLY re-delivery slice (arrival-1 members re-scored in
    // arrival 2 — plants epoch-1 supersede tombstones so the
    // compactEvery=1 rerun below folds + consumes tombstones live)
    val earlyN = docs.filter(col("doc_id") % graft.streaming.Events.RedeliveryMod ===
      graft.streaming.Events.EarlyRedeliveryRem).count()
    assert(shadows > 0, "testdata has no %20==3 docs — removal staging vacuous")
    assert(redeliveredN > 0, "testdata has no %10 docs — re-delivery staging vacuous")
    assert(earlyN > 0, "testdata has no %10==3 docs — early re-delivery staging vacuous")
    assert(probe.map(p => (p._1, p._2)).toMap ==
      Map(0L -> (n - second), 1L -> (second + shadows + earlyN), 2L -> redeliveredN),
      s"deltas: $probe")
    assert(streamed.forall(_._1 >= 0), "a removed shadow survived retraction")
    // the drift alarm carries real positives per epoch: the epochs' sum
    // equals the final relation's positives plus the (later-removed)
    // shadows' plus each re-delivered doc's SECOND scoring (the early
    // %10==3 slice at epoch 1, the %10==0 wave at epoch 2) — a shadow
    // shares its original's text, hence its pred; a re-delivered doc
    // scores identically both times under the frozen model
    val shadowPos = streamed.count(t => t._1 % graft.streaming.Events.ShadowMod == graft.streaming.Events.ShadowRem && t._5).toLong
    val redeliveredPos = streamed.count(t => t._1 % graft.streaming.Events.RedeliveryMod == 0 && t._5).toLong
    val earlyPos = streamed.count(t => t._1 % graft.streaming.Events.RedeliveryMod ==
      graft.streaming.Events.EarlyRedeliveryRem && t._5).toLong
    assert(probe.map(_._3).sum == streamed.count(_._5).toLong + shadowPos + redeliveredPos + earlyPos,
      s"positives ${probe.map(_._3).sum} != ${streamed.count(_._5)} + $shadowPos + $redeliveredPos + $earlyPos")
    // in-stream compaction every epoch (r13: score chain folded
    // tombstone-resolved, bucket layout preserved) must not perturb
    // the converged relation — probs at the refit tolerance
    val compacted = Events.ingestClassify(spark, TestSpark.sf, compactEvery = 1)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(compacted.size == batch.size, "per-epoch compaction changed the row count")
    compacted.zip(batch).foreach { case (c, b) =>
      assert(c._1 == b._1 && c._2 == b._2 && c._3 == b._3 && c._5 == b._5,
        s"per-epoch compaction drifted a discrete field: $c vs $b")
      assert(math.abs(c._4 - b._4) <= 1e-6,
        s"per-epoch compaction drifted a prob: $c vs $b")
    }
  }

  test("CAPPED stream_ingest_neardup converges to the capped batch twin through cap crossings") {
    // VERDICT r15 #2, the streamed leg: the loop maintains the hot
    // band-bucket set delta-stably and its staging plants a template
    // flood that crosses the cap UP at epoch 1 (pairs through the
    // flooded buckets retract from every member's verdict) and back
    // DOWN at epoch 2 when all copies are removed (the suppressed real
    // pairs resurface). The converged relation must equal the capped
    // batch twin over `documents` verbatim — which here also equals
    // the uncapped twin, since no REAL band bucket exceeds the cap:
    // the equality therefore proves the crossing retractions restored
    // every verdict the flood perturbed.
    import graft.operators.Dedup
    val crossings = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    val hotProbe = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Long])]
    val streamed = Events.ingestNearDup(spark, TestSpark.sf,
      maxBandDf = Some(Dedup.BandCapDf), compactEvery = 1,
      capCrossingsProbe = Some(crossings), hotDirsProbe = Some(hotProbe))
      .collect().toSeq
    // ckptOut: release the capped twin's pair checkpoint once
    // collected — spec suites call this repeatedly (ADVICE r16)
    val twinCkpts = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    val batch =
      try Dedup.minhashNearDupVerdict(Tables.documents(spark, TestSpark.sf),
        maxBandDf = Some(Dedup.BandCapDf), ckptOut = Some(twinCkpts)).collect().toSeq
      finally twinCkpts.foreach(graft.operators.Corpus.releaseCheckpoint)
    assert(streamed.nonEmpty && streamed == batch,
      "capped streamed verdicts diverged from the capped batch twin")
    // non-vacuity meters: the cap must actually CROSS, both ways, at
    // post-bootstrap epochs — otherwise this leg proves only that the
    // hot plumbing is inert
    val byEpoch = crossings.map(c => c._1 -> ((c._2, c._3))).toMap
    assert(byEpoch.getOrElse(1L, (0L, 0L))._1 >= 1,
      s"no up-crossing at the flood-topping epoch: $crossings")
    assert(byEpoch.getOrElse(2L, (0L, 0L))._2 >= 1,
      s"no down-crossing at the flood-removal epoch: $crossings")
    // the hot snapshot chain is pruned on the compaction cadence:
    // exactly (committed predecessor, committed epoch) per window
    val survivors = hotProbe.toMap
    assert(survivors.keySet == Set(1L, 2L) &&
      survivors(1L) == Seq(0L, 1L) && survivors(2L) == Seq(1L, 2L),
      s"hot band snapshot survivors: $survivors")
  }

  test("CAPPED stream_ingest_neardup: the cap binds at convergence on a flooded corpus") {
    // the capped TRUTH must differ from the uncapped one when the
    // table itself carries a persistent flood — the non-vacuity the
    // documents-table leg can't show (its flood is retracted). 12
    // byte-identical docs share every band bucket (df 12 > 8), so the
    // capped twin keeps them all (their pairs are suppressed) while
    // the uncapped twin pairs them; a cold real near-dup pair must
    // survive capping in both.
    import spark.implicits._
    import graft.operators.Dedup
    val tmpl = "the same boilerplate template text here"
    val common = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_cap_spec")
    try {
      val stage = s"$dir/stage"
      ((1L to 12L).map(i => (i, tmpl)) ++
        Seq((100L, s"$common zeta"), (101L, s"$common eta")))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve("documents.parquet"))
      val table = spark.read.parquet(dir.resolve("documents.parquet").toString)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      val streamed = rows(Events.ingestNearDup(spark, dir.toString,
        maxBandDf = Some(Dedup.BandCapDf)))
      // ckptOut: release the capped twin's pair checkpoint once
      // collected (ADVICE r16)
      val twinCkpts = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
      val cappedTwin =
        try rows(Dedup.minhashNearDupVerdict(table,
          maxBandDf = Some(Dedup.BandCapDf), ckptOut = Some(twinCkpts)))
        finally twinCkpts.foreach(graft.operators.Corpus.releaseCheckpoint)
      val uncappedTwin = rows(Dedup.minhashNearDupVerdict(table))
      assert(streamed.nonEmpty && streamed == cappedTwin,
        s"flooded-corpus capped stream diverged: $streamed vs $cappedTwin")
      assert(cappedTwin != uncappedTwin,
        "cap does not bind at convergence on the flooded corpus — vacuous leg")
      // the flood survives capped (pairs suppressed), the cold real
      // pair is found in both
      assert(cappedTwin.filter(!_._2) == Seq((101L, false, 100L)),
        s"capped verdicts: $cappedTwin")
      assert(uncappedTwin.count(!_._2) > 1, s"uncapped verdicts: $uncappedTwin")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("CAPPED stream_ingest_neardup survives the post-hot-write crash replay") {
    // the capped branch's OWN worst replay point (its crash hook fires
    // post-hot-write, pre-verdict — the end-of-epoch hook defers to it
    // in capped mode): the torn epoch's hot snapshot is on disk while
    // the epoch is uncommitted; the replay must re-advance from the
    // committed predecessor's snapshot and overwrite the stale one
    // idempotently, converging to the identical capped batch truth.
    import graft.operators.Dedup
    val streamed = Events.ingestNearDup(spark, TestSpark.sf,
      maxBandDf = Some(Dedup.BandCapDf), crashAtEpoch = Some(1L)).collect().toSeq
    // ckptOut: release the capped twin's pair checkpoint once collected
    // (ADVICE r16 — same as the suite's other capped twin calls)
    val twinCkpts = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    val batch =
      try Dedup.minhashNearDupVerdict(Tables.documents(spark, TestSpark.sf),
        maxBandDf = Some(Dedup.BandCapDf), ckptOut = Some(twinCkpts)).collect().toSeq
      finally twinCkpts.foreach(graft.operators.Corpus.releaseCheckpoint)
    assert(streamed.nonEmpty && streamed == batch,
      "crash-replayed capped neardup loop diverged from the capped batch twin")
  }

  test("a late smaller-id near-dup retracts the earlier keep (verdict changelog)") {
    import spark.implicits._
    import graft.operators.Dedup
    // doc 11 arrives in batch 1 (11 % 5 != 0) and is initially kept;
    // doc 5 — IDENTICAL text, smaller id — arrives in batch 2
    // (5 % 5 == 0), so epoch 1 must emit a retraction row for 11.
    // Identical text → identical signatures → guaranteed LSH candidate
    // (no dependence on banding luck). Fillers are mutually distinct.
    val dup = (1 to 20).map(i => s"w$i").mkString(" ")
    val fill = (id: Long) => (1 to 20).map(i => s"f$id-$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_spec")
    try {
      val stage = s"$dir/stage"
      (Seq((5L, dup), (11L, dup)) ++ Seq(2L, 3L, 7L, 10L, 15L).map(i => (i, fill(i))))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve("documents.parquet"))
      val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      val got = Events.ingestNearDup(spark, dir.toString, deltaProbe = Some(probe))
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      // final state: 11 is a dup of 5 (jaccard 1.0), everything else
      // kept — including doc 3, whose shadow partner (-4, the staged
      // %20==3 negative-id duplicate) was removed in epoch 2, forcing
      // its re-verdict back to keep
      assert(got.filter(!_._2) == Seq((11L, false, 5L)), s"verdicts: $got")
      assert(got.size == 7 && got.count(_._2) == 6)
      // the retractions happened IN the changelog: epoch 0 carried 4
      // arrivals + the shadow of doc 3 + the stale draft of doc 10;
      // epoch 1 its own 3 arrivals (5, the re-delivered 10, 15) plus
      // exactly one prior update (11); epoch 2 (the shadow removal)
      // exactly one re-verdict row (doc 3)
      assert(probe.toMap == Map(0L -> 6L, 1L -> 4L, 2L -> 1L), s"deltas: $probe")
      // and the converged relation equals the batch twin on this corpus
      val batch = Dedup.minhashNearDupVerdict(
        spark.read.parquet(dir.resolve("documents.parquet").toString))
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      assert(got == batch)
      // in-stream compaction every epoch (the swap machinery firing
      // BETWEEN micro-batches) must not perturb a single verdict
      val compacted = Events.ingestNearDup(spark, dir.toString, compactEvery = 1)
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      assert(compacted == batch, "per-epoch compaction changed the converged verdicts")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("ann assignment and classify score chains file-prune point lookups (poisoned-bucket proof)") {
    // the two r11 loops' stores joined the bucketing discipline in r12:
    // stage each chain exactly as its loop writes it (same bucket
    // function, same layout), poison every bucket a one-id lookup does
    // not need, and prove the pruned read never opens them while an
    // unpruned control read fails — the prunedChainScan contract,
    // pinned on THESE stores' shapes
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket_proof")
    try {
      def stage(sub: String, df: org.apache.spark.sql.DataFrame, keyCol: String): Unit =
        df.withColumn("bucket", Events.chainBucket(col(keyCol)))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$dir/$sub/batch=0")
      // assign-chain shape: (neighbor_id, cell)
      stage("assign", (0L until 64L).map(i => (i, (i % 16).toInt))
        .toDF("neighbor_id", "cell"), "neighbor_id")
      // score-chain shape: (doc_id, label, split, prob, pred)
      stage("scores", (0L until 64L).map(i => (i, i % 2 == 0, "train", 0.5, true))
        .toDF("doc_id", "label", "split", "prob", "pred"), "doc_id")
      // verdict-chain shape (bucketed r13): (doc_id, partner_id, jaccard)
      stage("verdict", (0L until 64L).map(i => (i, i / 2, 0.9))
        .toDF("doc_id", "partner_id", "jaccard"), "doc_id")
      def proveOne(sub: String, keyCol: String,
                   schema: org.apache.spark.sql.types.StructType, id: Long): Unit = {
        val need = Seq(id).toDF(keyCol)
          .select(Events.chainBucket(col(keyCol)).as("b"))
          .collect().map(_.getInt(0)).toSet
        new java.io.File(s"$dir/$sub/batch=0").listFiles()
          .filter(d => d.getName.startsWith("bucket=") &&
            !need.contains(d.getName.stripPrefix("bucket=").toInt))
          .foreach(d => java.nio.file.Files.write(
            d.toPath.resolve("part-poison.parquet"), "NOT PARQUET".getBytes))
        val got = Events.prunedChainScan(spark, s"$dir/$sub", 0L, need.toSeq, Some(schema))
          .filter(col(keyCol) === lit(id)).collect()
        assert(got.length == 1, s"$sub point lookup lost the row")
        intercept[Throwable] {
          spark.read.schema(schema).parquet(s"$dir/$sub").collect()
        }
      }
      val assignSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType)))
      val scoreSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("split",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("prob",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("pred",
          org.apache.spark.sql.types.BooleanType)))
      val verdictSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("partner_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType)))
      proveOne("assign", "neighbor_id", assignSchema, 37L)
      proveOne("scores", "doc_id", scoreSchema, 41L)
      proveOne("verdict", "doc_id", verdictSchema, 43L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("additive-chain compaction preserves per-key sums, keeps zero-sum keys, leaves later deltas") {
    // compactAdditiveChain's contract (the IVF cellstats chain): the
    // resolution is a per-key SUM over signed rows — folding epochs
    // ≤ upTo must not change any consumer's sum, a fully-drained key
    // (sum 0) stays in the base (the additive algebra, not a consumer
    // policy), and deltas past the bound survive untouched.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_additive_compact")
    try {
      val chain = s"$dir/stats"
      Seq((1, 5L), (2, 3L), (3, 2L)).toDF("cell", "n").write.parquet(s"$chain/batch=0")
      Seq((1, -2L), (3, -2L)).toDF("cell", "n").write.parquet(s"$chain/batch=1")
      Seq((2, 4L), (4, 7L)).toDF("cell", "n").write.parquet(s"$chain/batch=2")
      def sums() = spark.read.parquet(chain)
        .groupBy(col("cell")).agg(sum(col("n")).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val before = sums()
      Events.compactAdditiveChain(spark, chain, Seq("cell"), "n", upTo = Some(1L))
      assert(sums() == before, "compaction changed a per-key sum")
      val dirs = new java.io.File(chain).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(dirs == Set("batch=1", "batch=2"),
        s"expected the folded base at batch=1 plus the untouched batch=2, got $dirs")
      // cell 3 drained to zero inside the fold — it must survive as a
      // zero row, not vanish (sum semantics, consumer filters itself)
      val base = spark.read.parquet(s"$chain/batch=1")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(base.get(3).contains(0L), s"drained key dropped from the folded base: $base")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("every chain reader survives an all-zero-file chain (pure-removal head epochs)") {
    // Partition discovery is FILE-driven: a chain whose committed
    // epochs are all zero-file (a pure-removal head-of-stream backlog,
    // or a torn first tombstone write) yields NO batch/bucket columns,
    // and any unguarded predicate on them fails analysis — wedging the
    // epoch in a permanent replay crash. Pin that every reader in the
    // probe/compaction/aggregate family resolves to EMPTY instead.
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_zerofile_chain")
    try {
      val chain = s"$dir/chain"; val tomb = s"$dir/tomb"
      // two committed epochs, both zero-file: an empty bucketed write
      // (the loops' empty-delta shape) and an empty plain write
      Seq.empty[(Long, String)].toDF("doc_id", "v")
        .withColumn("bucket", Events.chainBucket(col("doc_id")))
        .write.partitionBy("bucket").parquet(s"$chain/batch=0")
      Seq.empty[(Long, String)].toDF("doc_id", "v").write.parquet(s"$chain/batch=1")
      // a TORN tombstone write: the dir exists, no committed files
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tomb/batch=0"))
      assert(Events.prunedChainRows(spark, chain, 1L, Seq(0, 1), Some(schema)).isEmpty)
      assert(Events.prunedChainScan(spark, chain, 1L, Seq(0, 1), Some(schema)).isEmpty)
      val agg = Events.tombstoneAggregate(spark, tomb, upTo = Some(0L))
      assert(agg.isDefined && agg.get.isEmpty,
        "torn tombstone dir must aggregate to empty, not fail analysis")
      assert(Events.tombstoneResolved(spark, chain, tomb,
        upTo = Some(1L), dataSchema = Some(schema)).isEmpty)
      // both compaction entry points must no-op, not throw
      Events.compactDeltaChain(spark, chain, Seq("doc_id"), Some(1L), Nil, Some(schema))
      Events.compactTombstonedChains(spark, Seq(chain), tomb,
        dataSchemaFor = _ => Some(schema))
      // the CONVERSE guard (ADVICE r13): a chain that holds ROWS yet
      // lacks the expected partition column is a mis-wired or
      // pre-layout store, and synthesizing a null column there would
      // turn every probe into a silently-empty read — it must fail
      // loudly, not classify the world as new
      val populated = s"$dir/populated"
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
        .coalesce(1).write.parquet(s"$populated/batch=0")
      val ex = intercept[IllegalStateException] {
        Events.prunedChainRows(spark, populated, 0L, Seq(0, 1), Some(schema)).isEmpty
      }
      assert(ex.getMessage.contains("without the expected partition layout"), ex.getMessage)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("reused-checkpoint replay over a COMPACTED store overwrites only its own epoch") {
    // VERDICT r11 ask #6: the committed-state gates and the in-stream
    // compaction are each spec'd alone — this pins their INTERACTION.
    // Sequence: two committed epochs → full compaction (chain folds to
    // `batch=maxEpoch`) → stream restarts from the SAME checkpoint and
    // crashes AFTER its delta write but before the epoch commits (the
    // worst replay state: output present, commit missing) → restart
    // again; the replayed epoch must (a) number PAST the compacted
    // snapshot (no collision with the folded base), (b) see the
    // snapshot as committed prior state through the gate, (c) overwrite
    // exactly its own delta — and the consumer LWW must equal the
    // uncompacted-uncrashed truth.
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_compact")
    try {
      val src = java.nio.file.Files.createDirectory(root.resolve("src"))
      val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      val epochsSeen = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Long])]
      @volatile var crashArmed = false
      def runStream() = spark.readStream.schema(schema).parquet(src.toString)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
          // the loops' gate: prior committed epochs as seen over
          // whatever layout the store currently has
          epochsSeen += ((epoch, Events.committedEpochsBelow(sink, epoch)))
          batch.write.mode("overwrite").parquet(s"$sink/batch=$epoch")
          if (crashArmed) { crashArmed = false; throw new RuntimeException("injected post-write crash") }
        }
        .start()
      def stage(rows: (String, Long)*): Unit =
        // coalesce(1): one part file per staged arrival — atomic w.r.t.
        // the live stream's file discovery (see Events' staging note)
        rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(src.toString)
      // two committed epochs
      val q1 = runStream()
      try {
        stage(("a", 1L), ("b", 1L)); q1.processAllAvailable()
        stage(("b", 2L), ("c", 2L)); q1.processAllAvailable()
      } finally q1.stop()
      // full compaction: the chain folds into batch=1 (the max epoch)
      Events.compactDeltaChain(spark, sink, Seq("k"))
      def dirs() = new java.io.File(sink).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(dirs() == Set("batch=1"), s"compaction did not fold: ${dirs()}")
      // restart on the SAME checkpoint; the next epoch crashes after
      // its write — stranding batch=2 beside the snapshot, uncommitted
      // in the stream's ledger
      crashArmed = true
      stage(("a", 3L), ("d", 3L))
      val q2 = runStream()
      try q2.processAllAvailable()
      catch { case _: Throwable => () }
      assert(q2.exception.isDefined, "injected crash did not surface")
      q2.stop()
      assert(dirs() == Set("batch=1", "batch=2"), s"stranded delta missing: ${dirs()}")
      // restart again: the SAME epoch must replay and overwrite itself
      val q3 = runStream()
      try q3.processAllAvailable() finally q3.stop()
      // the replayed epoch numbered past the snapshot and saw it as
      // committed prior state (gate over the compacted layout)
      val replays = epochsSeen.toList.filter(_._1 == 2L)
      assert(replays.size == 2, s"expected crash + replay of epoch 2: $epochsSeen")
      assert(replays.forall(_._2 == Seq(1L)),
        s"gate did not resolve the compacted snapshot as prior state: $epochsSeen")
      assert(dirs() == Set("batch=1", "batch=2"), s"replay wrote outside its epoch: ${dirs()}")
      // consumer truth: LWW equals the uncompacted-uncrashed history
      val got = Events.resolveLww(spark.read.parquet(sink), Seq("k"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == Set(("a", 3L), ("b", 2L), ("c", 2L), ("d", 3L)), s"got $got")
      // and a second compaction over the healed chain is clean
      Events.compactDeltaChain(spark, sink, Seq("k"))
      assert(dirs() == Set("batch=2"))
      val got2 = Events.resolveLww(spark.read.parquet(sink), Seq("k"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got2 == got)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("the stateful ingest loops leave no pinned blocks in the session") {
    // the operational guarantee a continuously-running deployment needs:
    // after a full run (bootstrap + incremental epochs + read-back) the
    // persistent-RDD registry holds nothing the loop created — every
    // per-epoch persist is unpersisted and every checkpoint released
    // (the r10 lifecycle work; a regression here is a slow leak that
    // only shows after days of micro-batches)
    def assertClean(name: String)(run: => Unit): Unit = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      run
      // 60s: RDD-registry removal is synchronous in unpersist, but this
      // VM throttles under sustained load and the GC-driven cleaner can
      // lag; a REAL leak (release never called) waits forever either way
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def leaked() = sc.getPersistentRDDs.keySet -- before
      while (leaked().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      // on failure, name the leaked RDDs: the id alone can't be traced
      // back to the persist call that skipped its release
      val detail = leaked().toSeq.sorted.flatMap(id =>
        sc.getPersistentRDDs.get(id).map(r => s"$id: ${r.toString}"))
      assert(leaked().isEmpty, s"$name leaked pinned RDDs:\n${detail.mkString("\n")}")
    }
    assertClean("stream_incremental_clean") {
      assert(Events.streamIncrementalClean(spark, TestSpark.sf).collect().nonEmpty)
    }
    // the capped mode adds four cache/checkpoint lifecycles per epoch
    // (crossing caches, hotNext, the prior-epoch tombstone aggregate,
    // the hot snapshot) — guard them with the same registry gate
    assertClean("stream_incremental_clean_capped") {
      assert(Events.streamIncrementalClean(spark, TestSpark.sf,
        maxShingleDf = Some(Events.CleanCapDf)).collect().nonEmpty)
    }
    assertClean("stream_ingest_neardup") {
      assert(Events.ingestNearDup(spark, TestSpark.sf).collect().nonEmpty)
    }
    // the capped mode adds the touched-df and hotNext checkpoints and
    // the crossing recompute's caches per epoch (r16)
    assertClean("stream_ingest_neardup_capped") {
      assert(Events.ingestNearDup(spark, TestSpark.sf,
        maxBandDf = Some(graft.operators.Dedup.BandCapDf)).collect().nonEmpty)
    }
    assertClean("stream_ingest_ann") {
      assert(Events.ingestAnnIvf(spark, TestSpark.sf).collect().nonEmpty)
    }
    // migration mode adds the per-epoch tombstone-aggregate merge and
    // the v2 build's reads (r16)
    assertClean("stream_ingest_ann_migrate") {
      assert(Events.ingestAnnIvf(spark, TestSpark.sf,
        driftMaxCellShare = Some(Events.DriftMaxCellShareDefault),
        driftWaveArrival2 = true).collect().nonEmpty)
    }
    assertClean("stream_ingest_classify") {
      assert(Events.ingestClassify(spark, TestSpark.sf).collect().nonEmpty)
    }
  }

  test("stream_ingest_decontam equals the independent batch formulation") {
    import graft.operators.{Corpus, Training}
    // the streamed (bloom-suspect + exact-confirm) gate must land on the
    // same relation as the batch inverted-index criterion: train docs
    // sharing NO word-5-gram with any test doc, exact-deduped
    val docs = Tables.documents(spark, TestSpark.sf)
    val contaminated = Training.decontamNgram(docs).select(col("doc_id"))
    val expected = docs
      .filter(Corpus.splitOfBucket(Corpus.splitBucket(col("text"))) === "train")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_arrivals"))
      .orderBy(col("text_hash"))
      .collect().toSeq
    val streamed = Events.ingestDecontam(spark, TestSpark.sf).collect().toSeq
    assert(expected.nonEmpty && streamed == expected)
    // and the gate actually bites: some train doc is contaminated
    assert(streamed.size < docs
      .filter(Corpus.splitOfBucket(Corpus.splitBucket(col("text"))) === "train")
      .select(md5(col("text").cast("binary"))).distinct().count())
  }

  test("decontam delta-chain sink resolves to the complete-mode decontam relation") {
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val fromFiles = Events.ingestDecontamToFiles(spark, TestSpark.sf, deltaProbe = Some(probe))
      .collect().toSeq
    val complete = Events.ingestDecontam(spark, TestSpark.sf).collect().toSeq
    assert(fromFiles.nonEmpty && fromFiles == complete)
    // the second arrival's delta emits only its own keys — strictly
    // fewer than the full relation (the %5 split guarantees both
    // arrivals are non-empty at every SF)
    val emitted = probe.toMap
    assert(emitted.keySet == Set(0L, 1L), s"expected exactly 2 data batches, got $probe")
    assert(emitted(1L) > 0 && emitted(1L) < fromFiles.size.toLong,
      s"second delta not incremental: ${emitted(1L)} of ${fromFiles.size} keys")
  }

  test("update-mode delta-chain sink resolves to the complete-mode dedup relation") {
    // the production twin: per-batch foreachBatch deltas + last-write-wins
    // read-back must equal the memory-sink Complete-mode verify relation
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val fromFiles = Events.ingestDedupToFiles(spark, TestSpark.sf, deltaProbe = Some(probe))
      .collect().toSeq
    val complete = Events.ingestDedup(spark, TestSpark.sf).collect().toSeq
    assert(fromFiles == complete)
    // the scale property the Complete-mode sink lacks: the second
    // arrival's delta emits ONLY the keys that arrival touched — strictly
    // fewer rows than the full relation (the %5 split guarantees both
    // arrivals are non-empty at every SF)
    val emitted = probe.toMap
    assert(emitted.keySet == Set(0L, 1L), s"expected exactly 2 data batches, got $probe")
    assert(emitted(1L) > 0, "second arrival must touch at least one key")
    assert(emitted(1L) < complete.size.toLong,
      s"update-mode delta re-emitted the whole relation: ${emitted(1L)} of ${complete.size} keys")
  }

  test("delta-chain compaction preserves the LWW relation and prunes to one directory") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_compact_spec")
    try {
      // hand-built chain: key A updated in every epoch, B in two, C once
      Seq(("a", 1L, 1L), ("b", 2L, 1L), ("c", 3L, 1L)).toDF("k", "keep", "n")
        .write.parquet(s"$sink/batch=0")
      Seq(("a", 1L, 2L), ("b", 2L, 2L)).toDF("k", "keep", "n")
        .write.parquet(s"$sink/batch=1")
      Seq(("a", 1L, 3L)).toDF("k", "keep", "n")
        .write.parquet(s"$sink/batch=2")
      def lww() = spark.read.parquet(sink.toString)
        .groupBy(col("k"))
        .agg(max_by(struct(col("keep"), col("n")), col("batch")).as("v"))
        .select(col("k"), col("v.keep"), col("v.n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val before = lww()
      assert(before == Set(("a", 1L, 3L), ("b", 2L, 2L), ("c", 3L, 1L)))
      Events.compactDeltaChain(spark, sink.toString, Seq("k"))
      assert(lww() == before, "compaction must not change the consumer relation")
      def dirs() = new java.io.File(sink.toString).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(dirs() == Set("batch=2"), s"older deltas must be pruned: ${dirs()}")
      // idempotent: compacting a compacted chain is a no-op
      Events.compactDeltaChain(spark, sink.toString, Seq("k"))
      assert(lww() == before && dirs() == Set("batch=2"))
      // MID-STREAM compaction (VERDICT r6 #7): the stream resumes after
      // the compaction and lands a new delta at the next epoch — the
      // consumer relation must merge the snapshot with the late delta
      // exactly as it would have merged the original chain
      Seq(("a", 1L, 9L), ("d", 4L, 1L)).toDF("k", "keep", "n")
        .write.parquet(s"$sink/batch=3")
      assert(lww() == Set(("a", 1L, 9L), ("b", 2L, 2L), ("c", 3L, 1L), ("d", 4L, 1L)),
        "post-compaction delta must override the snapshot per key")
      Events.compactDeltaChain(spark, sink.toString, Seq("k"))
      assert(dirs() == Set("batch=3") &&
        lww() == Set(("a", 1L, 9L), ("b", 2L, 2L), ("c", 3L, 1L), ("d", 4L, 1L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(sink).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("stored postings probe equals the in-memory closure and file-prunes both stores") {
    // streamIncrementalClean's dual-bucketed posting index: (A) the
    // pair-graph closure must walk IDENTICALLY through the stored probe
    // (bucket-pruned, tombstone-resolved chains) and the in-memory one
    // over the resolved relation — including a re-delivered doc whose
    // STALE epoch-0 text would (if tombstone resolution leaked) change
    // the closure; (B) non-matching bucket files must never be opened —
    // poisoned-file proof, the prunedChainScan discipline.
    import spark.implicits._
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_spec")
    try {
      val corpus = s"$dir/corpus"; val bySh = s"$dir/by_shingle"
      val tomb = s"$dir/tombstones"
      val base = (1 to 19).map(i => s"w$i").mkString(" ")
      val other = (1 to 19).map(i => s"u$i").mkString(" ")
      val e0 = Seq(
        1L -> s"$base t1",
        2L -> "completely unrelated stale draft text body junk filler words", // stale
        3L -> s"$other t3", 4L -> s"$other t4",
        5L -> "lone wolf text normal here").toDF("doc_id", "text")
      val e1 = Seq(
        2L -> s"$base t2", // re-delivery: true text IS a near-dup of 1
        7L -> s"$base t7").toDF("doc_id", "text")
      def writeEpoch(docs: org.apache.spark.sql.DataFrame, epoch: Int): Unit = {
        docs.withColumn("bucket", Events.chainBucket(col("doc_id")))
          .write.partitionBy("bucket").parquet(s"$corpus/batch=$epoch")
        Snapshot.postings(docs)
          .withColumn("bucket", Events.chainBucket(col("s")))
          .write.partitionBy("bucket").parquet(s"$bySh/batch=$epoch")
      }
      writeEpoch(e0, 0); writeEpoch(e1, 1)
      Seq(2L).toDF("doc_id").write.parquet(s"$tomb/batch=1")
      val finalDocs = e0.filter(col("doc_id") =!= 2L).unionByName(e1)
      val resolved = Snapshot.postings(finalDocs).persist()
      val docsSchema = e0.schema
      val docsFor: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        ids => Events.tombstoneResolvedRows(spark,
          Events.prunedChainRows(spark, corpus, 1L,
            Events.collectBuckets(ids, col("doc_id")), Some(docsSchema)),
          tomb, upTo = Some(1L))
          .join(ids, Seq("doc_id"), "left_semi")
      val seeds = Seq(7L).toDF("doc_id")
      val (cMem, eMem) = Snapshot.pairGraphClosure(seeds, resolved)
      val tombAgg = Events.tombstoneAggregate(spark, tomb, upTo = Some(1L))
      val stored = new Events.StoredPostingsProbe(spark, docsFor, bySh, tombAgg, 1L,
        resolved.schema)
      val (cSt, eSt) = Snapshot.pairGraphClosure(seeds, stored, 25)
      val memSet = cMem.collect().map(_.getLong(0)).toSet
      val stSet = cSt.collect().map(_.getLong(0)).toSet
      // the component: 7 → its near-dup mates 1 and 2 — 2 ONLY because
      // the tombstone retired its stale epoch-0 postings
      assert(memSet == Set(1L, 2L, 7L), s"in-memory closure wrong: $memSet")
      assert(stSet == memSet, s"stored probe diverged: $stSet vs $memSet")
      val memEdges = eMem.flatMap(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      val stEdges = eSt.flatMap(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stEdges == memEdges, s"edge sets diverged: $stEdges vs $memEdges")
      ((cMem +: eMem) ++ (cSt +: eSt)).foreach(graft.operators.Corpus.releaseCheckpoint)
      stored.release()
      // (B) poison every bucket a {7}-frontier probe does not need; the
      // pruned reads must succeed, an unpruned control read must not
      val needDoc = Seq(7L).toDF("doc_id")
        .select(Events.chainBucket(col("doc_id")).as("b")).collect().map(_.getInt(0)).toSet
      val needSh = resolved.filter(col("doc_id") === 7L)
        .select(Events.chainBucket(col("s")).as("b")).distinct().collect().map(_.getInt(0)).toSet
      def poison(store: String, keep: Set[Int]): Unit =
        new java.io.File(store).listFiles().filter(_.getName.startsWith("batch="))
          .flatMap(_.listFiles()).filter(d => d.getName.startsWith("bucket=") &&
            !keep.contains(d.getName.stripPrefix("bucket=").toInt))
          .foreach(d => java.nio.file.Files.write(
            d.toPath.resolve("part-poison.parquet"), "NOT PARQUET".getBytes))
      poison(corpus, needDoc); poison(bySh, needSh)
      val probe2 = new Events.StoredPostingsProbe(spark, docsFor, bySh, tombAgg, 1L,
        resolved.schema)
      val fp = probe2.forDocs(Seq(7L).toDF("doc_id")).persist()
      assert(fp.select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
      assert(probe2.forShinglesOf(fp).collect().nonEmpty) // reads only needed buckets
      fp.unpersist(blocking = false)
      probe2.release()
      intercept[Throwable] {
        spark.read.schema(docsSchema).parquet(corpus).collect()
      }
      resolved.unpersist(blocking = false)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("tombstoned compaction preserves a bucketed chain's layout (partitionColsFor)") {
    // the incremental-clean store's chains are bucketed; compacting one
    // without naming its layout silently flattens the bucket dirs into
    // plain columns — row filters keep working, FILE skipping is lost.
    // Pin: resolution unchanged, bucket dirs survive the swap, and the
    // pruned probe still skips a poisoned non-matching bucket.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tombbucket")
    try {
      val chain = s"$dir/chain"; val tomb = s"$dir/tombstones"
      def delta(rows: Seq[(Long, String, Int)], e: Int): Unit =
        rows.toDF("doc_id", "payload", "bucket")
          .write.partitionBy("bucket").parquet(s"$chain/batch=$e")
      delta(Seq((1L, "a0", 0), (2L, "b0-stale", 1)), 0)
      delta(Seq((2L, "b1", 1), (3L, "c1", 0)), 1) // re-delivers doc 2
      Seq(2L).toDF("doc_id").write.parquet(s"$tomb/batch=1")
      def resolved() = Events.tombstoneResolved(spark, chain, tomb)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val want = Set((1L, "a0", 0), (2L, "b1", 1), (3L, "c1", 0))
      assert(resolved() == want, "staging wrong")
      Events.compactTombstonedChain(spark, chain, tomb,
        partitionCols = Seq("bucket"))
      assert(resolved() == want, "compaction changed the resolved relation")
      val root = new java.io.File(chain)
      val batchDirs = root.listFiles().filter(_.getName.startsWith("batch=")).map(_.getName).toSet
      assert(batchDirs == Set("batch=1"), s"chain not compacted: $batchDirs")
      assert(new java.io.File(root, "batch=1").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet == Set("bucket=0", "bucket=1"),
        "compacted base lost its bucket layout")
      // tombstones consumed
      assert(!new java.io.File(tomb, "batch=1").exists())
      // file skipping still real: poison bucket 1, read bucket 0 only
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$chain/batch=1/bucket=1/poison.parquet"),
        "NOT PARQUET".getBytes)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType)))
      val got = Events.prunedChainScan(spark, chain, 1L, Seq(0), Some(schema))
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L))
      // ADVICE r11: a DEFAULT-ARG maintenance compaction (caller names no
      // layout) must auto-detect and preserve the bucket dirs — a
      // flattened base would make the production probes' explicit-schema
      // col("bucket") filter fail to resolve, crashing the loop's next
      // epoch, not merely losing file skipping. Stage a fresh delta so
      // the compactor has work, then compact with NO partitionCols.
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$chain/batch=1/bucket=1/poison.parquet"))
      delta(Seq((4L, "d2", 1)), 2)
      Events.compactTombstonedChain(spark, chain, tomb)
      val want2 = want + ((4L, "d2", 1))
      assert(resolved() == want2, "default-arg compaction changed the resolved relation")
      assert(new java.io.File(root, "batch=2").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet == Set("bucket=0", "bucket=1"),
        "default-arg compaction flattened the auto-detectable bucket layout")
      // and the explicit-schema pruned probe still RESOLVES and skips
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$chain/batch=2/bucket=1/poison.parquet"),
        "NOT PARQUET".getBytes)
      val got2 = Events.prunedChainScan(spark, chain, 2L, Seq(0), Some(schema))
        .collect().map(_.getLong(0)).toSet
      assert(got2 == Set(1L, 3L))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("prefix-bounded compaction leaves in-flight deltas and preserves the bucket layout") {
    // the in-stream compaction ingestNearDup schedules: `upTo` folds
    // only epochs ≤ the bound (a crash-replay of the in-flight epoch
    // must only ever overwrite ITSELF, never a base holding the whole
    // chain), and `partitionCols` rewrites the base UNDER the store's
    // bucket dirs so probe-side file pruning survives the rewrite
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_compact_prefix")
    try {
      def delta(rows: Seq[(Long, Long, Int)], e: Int): Unit =
        rows.toDF("doc_id", "payload", "bucket")
          .write.partitionBy("bucket").parquet(s"$sink/batch=$e")
      delta(Seq((1L, 10L, 0), (2L, 20L, 1)), 0)
      delta(Seq((3L, 30L, 0), (2L, 21L, 1)), 1)
      delta(Seq((4L, 40L, 1)), 2) // the in-flight epoch — must survive
      def resolved() = Events.resolveLww(
        spark.read.parquet(sink.toString), Seq("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val before = resolved()
      assert(before == Set((1L, 10L, 0), (2L, 21L, 1), (3L, 30L, 0), (4L, 40L, 1)))
      Events.compactDeltaChain(spark, sink.toString, Seq("doc_id"),
        upTo = Some(1L), partitionCols = Seq("bucket"))
      assert(resolved() == before, "prefix compaction changed the consumer relation")
      val root = new java.io.File(sink.toString)
      def dirs(f: java.io.File) = f.listFiles()
        .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_")).toSet
      assert(dirs(root) == Set("batch=1", "batch=2"),
        s"expected compacted base + untouched in-flight delta: ${dirs(root)}")
      // base rewritten UNDER bucket dirs — pruning keys survive
      assert(dirs(new java.io.File(root, "batch=1")) == Set("bucket=0", "bucket=1"),
        "compacted base lost its bucket layout")
      // and the pruned probe still file-skips over the compacted chain
      val probed = Events.prunedChainScan(spark, sink.toString, 2L, Seq(0))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probed == Set((1L, 10L), (3L, 30L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(sink).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("compaction preserves LWW over NULLABLE value columns (verdict-chain shape)") {
    // the near-dup verdict chain stores (partner_id, jaccard) with null
    // meaning "kept" — pin that a null in the NEWEST row wins over an
    // older non-null (and vice versa) through both the shared resolver
    // and a compaction round trip; the generic compaction tests only
    // stage non-null values
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_nullchain")
    try {
      Seq((11L, Option.empty[Long], Option.empty[Double]),
        (7L, Option(3L), Option(0.9)))
        .toDF("doc_id", "partner_id", "jaccard").write.parquet(s"$sink/batch=0")
      Seq((5L, Option.empty[Long], Option.empty[Double]),
        (11L, Option(5L), Option(1.0)), // keep retracted by a late dup
        (7L, Option.empty[Long], Option.empty[Double])) // null overwrites value
        .toDF("doc_id", "partner_id", "jaccard").write.parquet(s"$sink/batch=1")
      def resolved(): Set[(Long, Option[Long], Option[Double])] =
        Events.resolveLww(spark.read.parquet(sink.toString), Seq("doc_id"))
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      val want = Set[(Long, Option[Long], Option[Double])](
        (5L, None, None), (11L, Some(5L), Some(1.0)), (7L, None, None))
      assert(resolved() == want, "chain staged wrong")
      Events.compactDeltaChain(spark, sink.toString, Seq("doc_id"))
      assert(resolved() == want, "compaction changed the null-bearing resolution")
      val dirs = new java.io.File(sink.toString).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(dirs == Set("batch=1"), s"older deltas must be pruned: $dirs")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(sink).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("tombstoned-chain compaction preserves the resolved relation and consumes tombstones") {
    // The store shape streamIncrementalClean keeps corpus/postings state
    // in: whole-row-group deltas (many rows per doc) + a tombstone chain
    // marking superseded doc versions — per-key LWW doesn't apply, so
    // this is compactTombstonedChain's own contract: resolution
    // identical before/after, one base dir left, tombstones consumed.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tchain")
    val tomb = java.nio.file.Files.createTempDirectory("graft_tchain_tomb")
    try {
      // doc 1 delivered at epoch 0 (2 rows) and RE-delivered at epoch 1
      // (3 rows, tombstoning the old version); docs 2 and 3 one epoch each
      Seq((1L, "a1x"), (1L, "a1y"), (2L, "bb")).toDF("doc_id", "s")
        .write.parquet(s"$dir/batch=0")
      Seq((1L, "a2x"), (1L, "a2y"), (1L, "a2z"), (3L, "cc")).toDF("doc_id", "s")
        .write.parquet(s"$dir/batch=1")
      Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$tomb/batch=1")
      val want = Set((1L, "a2x"), (1L, "a2y"), (1L, "a2z"), (2L, "bb"), (3L, "cc"))
      def resolved(): Set[(Long, String)] = {
        val rows = spark.read.parquet(dir.toString)
        val tombDirs = Option(new java.io.File(tomb.toString).listFiles())
          .exists(_.exists(_.getName.startsWith("batch=")))
        val live = if (!tombDirs) rows else {
          val t = spark.read.parquet(tomb.toString)
            .groupBy(col("doc_id")).agg(max(col("batch")).as("te"))
          rows.join(t, Seq("doc_id"), "left_outer")
            .filter(col("te").isNull || col("batch") >= col("te"))
        }
        live.select(col("doc_id"), col("s"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      }
      assert(resolved() == want, "test chain staged wrong")
      Events.compactTombstonedChain(spark, dir.toString, tomb.toString)
      def dirs(p: java.nio.file.Path) = Option(new java.io.File(p.toString).listFiles())
        .map(_.filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet)
        .getOrElse(Set.empty[String])
      assert(resolved() == want, "compaction changed the resolved relation")
      assert(dirs(dir) == Set("batch=1"), s"older deltas must be pruned: ${dirs(dir)}")
      assert(dirs(tomb).isEmpty, s"consumed tombstones must be pruned: ${dirs(tomb)}")
      // idempotent on a consumed chain (empty tombstone dir ≡ none)
      Events.compactTombstonedChain(spark, dir.toString, tomb.toString)
      assert(resolved() == want && dirs(dir) == Set("batch=1"))
      // stream resumes: epoch 2 re-delivers doc 2 and tombstones it; a
      // second compaction folds the late delta exactly
      Seq((2L, "b2"), (4L, "dd")).toDF("doc_id", "s").write.parquet(s"$dir/batch=2")
      Seq(Tuple1(2L)).toDF("doc_id").write.parquet(s"$tomb/batch=2")
      val want2 = want - ((2L, "bb")) + ((2L, "b2")) + ((4L, "dd"))
      assert(resolved() == want2, "post-compaction delta must supersede the base")
      Events.compactTombstonedChain(spark, dir.toString, tomb.toString)
      assert(resolved() == want2 && dirs(dir) == Set("batch=2") && dirs(tomb).isEmpty)
    } finally {
      import scala.jdk.CollectionConverters._
      for (p <- Seq(dir, tomb))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
    }
  }

  test("commit gate skips every crash state: torn ledger, missing manifest, own epoch") {
    // latestCommittedBelow is the replay gate of the clean-ledger store
    // (ADVICE r9): an epoch counts only when BOTH manifest and ledger
    // carry _SUCCESS, and the current (possibly replaying) epoch is
    // never its own predecessor. Stage every crash prefix directly.
    val root = java.nio.file.Files.createTempDirectory("graft_gate")
    try {
      val ledger = s"$root/ledger"; val manifest = s"$root/manifest"
      def stage(dir: String, epoch: Long, success: Boolean): Unit = {
        val d = new java.io.File(s"$dir/batch=$epoch")
        d.mkdirs()
        java.nio.file.Files.write(d.toPath.resolve("part-0.parquet"), Array[Byte](1))
        if (success) java.nio.file.Files.createFile(d.toPath.resolve("_SUCCESS"))
      }
      def gate(epoch: Long) = Events.latestCommittedBelow(ledger, manifest, epoch)
      assert(gate(5L).isEmpty, "no store yet must mean no prior epoch")
      // epoch 0 fully committed
      stage(manifest, 0, success = true); stage(ledger, 0, success = true)
      assert(gate(5L).contains(0L))
      // epoch 1 crashed after the manifest, before the ledger
      stage(manifest, 1, success = true)
      assert(gate(5L).contains(0L), "manifest-only epoch must not commit")
      // epoch 2 crashed mid-ledger-write: dir + files, no _SUCCESS
      stage(manifest, 2, success = true); stage(ledger, 2, success = false)
      assert(gate(5L).contains(0L), "torn ledger dir must not commit")
      // epoch 3 with a torn MANIFEST but complete ledger (out-of-order
      // crash cleanup, or a ledger landed by a racing replay): still out
      stage(manifest, 3, success = false); stage(ledger, 3, success = true)
      assert(gate(5L).contains(0L), "torn manifest must not commit")
      // epoch 4 fully committed — becomes the new floor…
      stage(manifest, 4, success = true); stage(ledger, 4, success = true)
      assert(gate(5L).contains(4L))
      // …but a REPLAY of epoch 4 must read its true predecessor, not
      // its own (possibly partial) prior attempt
      assert(gate(4L).contains(0L), "an epoch must never be its own predecessor")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("chains sharing a tombstone dir compact together without losing resolutions") {
    // The iclean store shape: corpus + postings + manifest chains all
    // resolve against ONE tombstone dir. Compacting them in one
    // compactTombstonedChains call must preserve every chain's resolved
    // relation — the single-chain call would consume the shared
    // tombstones after the first chain and let the second chain's stale
    // rows leak into its compacted base (the review finding this pins).
    import spark.implicits._
    val a = java.nio.file.Files.createTempDirectory("graft_mchain_a")
    val b = java.nio.file.Files.createTempDirectory("graft_mchain_b")
    val tomb = java.nio.file.Files.createTempDirectory("graft_mchain_tomb")
    try {
      // doc 1 re-delivered at epoch 1; each chain carries its own rows
      Seq((1L, "a-old"), (2L, "a-b")).toDF("doc_id", "v").write.parquet(s"$a/batch=0")
      Seq((1L, "a-new")).toDF("doc_id", "v").write.parquet(s"$a/batch=1")
      Seq((1L, "b-old1"), (1L, "b-old2"), (2L, "b-b")).toDF("doc_id", "v")
        .write.parquet(s"$b/batch=0")
      Seq((1L, "b-new1"), (1L, "b-new2")).toDF("doc_id", "v").write.parquet(s"$b/batch=1")
      Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$tomb/batch=1")
      def resolved(dir: java.nio.file.Path): Set[(Long, String)] =
        Events.tombstoneResolved(spark, dir.toString, tomb.toString)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val wantA = Set((1L, "a-new"), (2L, "a-b"))
      val wantB = Set((1L, "b-new1"), (1L, "b-new2"), (2L, "b-b"))
      assert(resolved(a) == wantA && resolved(b) == wantB, "staging broken")
      Events.compactTombstonedChains(spark, Seq(a.toString, b.toString), tomb.toString)
      assert(resolved(a) == wantA, "chain A lost rows to shared-tombstone compaction")
      assert(resolved(b) == wantB, "chain B resurrected tombstoned rows")
      def dirs(p: java.nio.file.Path) = Option(new java.io.File(p.toString).listFiles())
        .map(_.filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet)
        .getOrElse(Set.empty[String])
      assert(dirs(a) == Set("batch=1") && dirs(b) == Set("batch=1"))
      assert(dirs(tomb).isEmpty, "tombstones must be consumed only after BOTH chains swapped")
    } finally {
      import scala.jdk.CollectionConverters._
      for (p <- Seq(a, b, tomb))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
    }
  }

  test("interrupted compaction recovers without data loss (ADVICE r6 crash states)") {
    import spark.implicits._
    def withChain(f: java.nio.file.Path => Unit): Unit = {
      val sink = java.nio.file.Files.createTempDirectory("graft_compact_crash")
      try {
        Seq(("a", 1L, 1L), ("b", 2L, 1L)).toDF("k", "keep", "n").write.parquet(s"$sink/batch=0")
        Seq(("a", 1L, 2L), ("c", 3L, 1L)).toDF("k", "keep", "n").write.parquet(s"$sink/batch=1")
        Seq(("a", 1L, 3L)).toDF("k", "keep", "n").write.parquet(s"$sink/batch=2")
        f(sink)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(sink).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    val truth = Set(("a", 1L, 3L), ("b", 2L, 1L), ("c", 3L, 1L))
    def lww(sink: java.nio.file.Path) = spark.read.parquet(sink.toString)
      .groupBy(col("k"))
      .agg(max_by(struct(col("keep"), col("n")), col("batch")).as("v"))
      .select(col("k"), col("v.keep"), col("v.n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def snapshotInto(sink: java.nio.file.Path, markerEpoch: Long): Unit = {
      // what a completed pre-crash snapshot write left behind: the LWW
      // relation in parquet (with Spark's _SUCCESS) plus the
      // target-epoch marker the write stamps last
      lww(sink).toSeq.toDF("k", "keep", "n").write.parquet(s"$sink/_compact_tmp")
      java.nio.file.Files.write(
        sink.resolve("_compact_tmp").resolve("_graft_target_epoch"),
        markerEpoch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // THE ADVICE scenario: crash between the rename pair — the complete
    // snapshot is stranded in _compact_tmp, the newest delta sits in the
    // aside dir, and batch=2 is GONE. Pre-fix, a re-run deleted tmp (the
    // only complete copy) and silently lost batch=2's data; post-fix it
    // must finish the swap and preserve the full relation.
    withChain { sink =>
      snapshotInto(sink, markerEpoch = 2L)
      java.nio.file.Files.move(sink.resolve("batch=2"), sink.resolve("_compact_old"))
      assert(lww(sink) != truth, "precondition: the visible chain is damaged")
      Events.compactDeltaChain(spark, sink.toString, Seq("k"))
      assert(lww(sink) == truth, "recovery must restore the stranded snapshot's data")
      val dirs = new java.io.File(sink.toString).listFiles().map(_.getName).toSet
      assert(dirs == Set("batch=2"), s"aside + older deltas pruned, got $dirs")
    }
    // crash BEFORE the aside rename: chain intact, tmp redundant. Plant a
    // WRONG relation in tmp to prove it is discarded, not swapped in.
    withChain { sink =>
      Seq(("z", 99L, 99L)).toDF("k", "keep", "n").write.parquet(s"$sink/_compact_tmp")
      java.nio.file.Files.write(
        sink.resolve("_compact_tmp").resolve("_graft_target_epoch"),
        "2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Events.compactDeltaChain(spark, sink.toString, Seq("k"))
      assert(lww(sink) == truth, "an intact chain must win over a stale snapshot")
    }
    // crash DURING the snapshot write (no marker): incomplete tmp discarded
    withChain { sink =>
      java.nio.file.Files.createDirectories(sink.resolve("_compact_tmp"))
      java.nio.file.Files.write(sink.resolve("_compact_tmp").resolve("part-00000.parquet"),
        Array[Byte](1, 2, 3)) // torn write, not valid parquet
      Events.compactDeltaChain(spark, sink.toString, Seq("k"))
      assert(lww(sink) == truth)
    }
  }

  test("stream_dedup drops a replayed micro-batch, emitting each event exactly once") {
    val deduped = Events.dedupEvents(spark, TestSpark.sf)
    val original = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
    // the harness redelivers every 10th event; without dedup the sink
    // would hold 1.1x the source — equality pins exactly-once
    assert(deduped.collect().toSeq == original.collect().toSeq)
  }

  test("stream-static enrichment equals the batch lookup join") {
    val streamed = Events.enrich(spark, TestSpark.sf)
    val batch = Tables.events(spark, TestSpark.sf)
      .join(Tables.customer(spark, TestSpark.sf), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("incremental corpus report converges to the batch dataset-card relation") {
    val streamed = Events.streamCorpusReport(spark, TestSpark.sf)
    val batch = graft.operators.Profile
      .corpusReport(Tables.documents(spark, TestSpark.sf))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("stream-stream band join converges to the batch range join") {
    val streamed = Events.streamStreamJoin(spark, TestSpark.sf)
    val batch = graft.operators.Relational.qRangeJoin(spark, TestSpark.sf)
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("built-in session_window agrees island-for-island with the custom sessionizer") {
    // the two formulations differ ONLY at an exactly-30-minute gap
    // (session_window splits, the gaps-and-islands rule merges) — check
    // the corpus really has none before relying on their agreement
    import org.apache.spark.sql.expressions.Window
    val exactGaps = Tables.events(spark, TestSpark.sf)
      .withColumn("gap_us", unix_micros(col("ts")) -
        unix_micros(lag(col("ts"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts")))))
      .filter(col("gap_us") === 30L * 60 * 1000 * 1000).count()
    assert(exactGaps == 0, "corpus grew an exact-gap pair — boundary semantics now diverge")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value")).collect().toSeq
    val builtin = rows(Events.sessionWindowAgg(spark, TestSpark.sf))
    val custom = rows(Events.sessionize(spark, TestSpark.sf))
    assert(builtin.size == custom.size)
    // keys exactly; total_value within epsilon — the two paths sum
    // doubles in different orders, so a .xx5-boundary session could
    // round differently while being semantically identical
    builtin.zip(custom).foreach { case (b, c) =>
      assert((b.getLong(0), b.getTimestamp(1), b.getTimestamp(2), b.getLong(3)) ==
        (c.getLong(0), c.getTimestamp(1), c.getTimestamp(2), c.getLong(3)), s"$b != $c")
      assert(math.abs(b.getDouble(4) - c.getDouble(4)) <= 0.011, s"$b != $c")
    }
  }

  test("RocksDB × in-stream compaction × reused-checkpoint replay converge on the near-dup loop") {
    // VERDICT r12 ask #5: the three hardening mechanisms each have
    // pairwise specs — this pins all THREE together over the real loop.
    // RocksDB state store + compaction EVERY epoch (the chains fold
    // while the stream is live) + an injected crash at the very end of
    // the re-delivery epoch's foreachBatch: every chain delta, the
    // supersede tombstones and the compaction have landed, but the
    // streaming checkpoint never committed — the loop restarts on the
    // same checkpoint, replays that epoch over the folded store, and
    // the converged relation must STILL equal the batch oracle verbatim.
    val Rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    System.setProperty("graft.stateStore.providerClass", Rocks)
    try {
      val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      val got = Events.ingestNearDup(spark, TestSpark.sf, compactEvery = 1,
        deltaProbe = Some(probe), crashAtEpoch = Some(1L)).collect().toSeq
      val want = graft.operators.Dedup.minhashNearDupVerdict(
        Tables.documents(spark, TestSpark.sf)).collect().toSeq
      assert(got.nonEmpty && got == want,
        "triple-hardened run (RocksDB + per-epoch compaction + replayed epoch) diverged")
      // the crashed epoch REPLAYS its instrumentation too: probe appends
      // are keyed by epoch (replace, not append — ADVICE r13), so the
      // buffer must hold exactly one entry per epoch even though epoch 1
      // ran twice
      assert(probe.map(_._1).sorted == Seq(0L, 1L, 2L),
        s"replayed epoch double-logged in the delta probe: $probe")
    } finally System.clearProperty("graft.stateStore.providerClass")
  }

  test("post-write crash replay converges on the ANN, classify and clean loops") {
    // VERDICT r13 #3: the crashAtEpoch hook (throw at the worst replay
    // point — output present, streaming commit missing) existed only on
    // ingestNearDup; these legs pin the other three loops. Each run
    // crashes once, restarts on the SAME checkpoint (ReplayingDrain),
    // and replays the torn epoch over the already-written store — with
    // per-epoch compaction live, so the replay also crosses a folded
    // chain. The converged relations must equal the loops' batch twins
    // exactly (probs at the classify contract tolerance).
    import graft.operators.{Classifier, Corpus, Similarity}
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.filter(col("vec_id") >= Similarity.NumQueries)
    val live = corpus.filter(col("vec_id") % graft.streaming.Events.AnnRemovalMod =!= 0)
    val centroids = Similarity.ivfTrain(
      corpus.filter(col("vec_id") % 5 =!= 0).orderBy(col("vec_id")))
    val annBatch = Similarity.ivfTopKFromIndex(
      emb, Similarity.ivfAssign(live, centroids), centroids, nprobe = 8)
      .collect().toSeq
    // crash at epoch 2 — the removal + re-delivery epoch: tombstones,
    // the fresh assignment delta, the negative cellstats AND the
    // prefix-bounded compaction all land before the throw
    val annGot = Events.ingestAnnIvf(spark, TestSpark.sf, compactEvery = 1,
      crashAtEpoch = Some(2L)).collect().toSeq
    assert(annGot.nonEmpty && annGot == annBatch,
      "ANN loop diverged through a post-write crash replay")

    val clsBatch = Classifier.classify(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val clsGot = Events.ingestClassify(spark, TestSpark.sf, compactEvery = 1,
      crashAtEpoch = Some(2L))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(clsGot.nonEmpty && clsGot.size == clsBatch.size,
      "classify loop lost or invented rows through a crash replay")
    clsGot.zip(clsBatch).foreach { case (g, b) =>
      assert(g._1 == b._1 && g._2 == b._2 && g._3 == b._3 && g._5 == b._5,
        s"classify discrete field diverged through a crash replay: $g vs $b")
      assert(math.abs(g._4 - b._4) <= 1e-6,
        s"classify prob diverged through a crash replay: $g vs $b")
    }

    // the clean loop's crash is the two-marker window the verdict named:
    // the manifest delta's _SUCCESS is on disk, the ledger's is NOT —
    // the one half-committed state latestCommittedBelow exists to skip.
    // The replayed epoch must resolve prior state from the last FULLY
    // committed epoch, rewrite its own manifest idempotently, and land
    // the ledger delta as if the crash never happened.
    val docs = Tables.documents(spark, TestSpark.sf)
    val cleanBatch = Corpus.ledger(docs)
      .filter(col("doc_id") === col("cluster_id") && col("quality") >= 0.75)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
      .orderBy(col("doc_id")).collect().toSeq
    val cleanGot = Events.streamIncrementalClean(spark, TestSpark.sf,
      compactEvery = 1, crashAtEpoch = Some(2L)).collect().toSeq
    assert(cleanGot.nonEmpty && cleanGot == cleanBatch,
      "clean loop diverged through a manifest-committed/ledger-missing crash replay")
  }

  test("RocksDB state store: the four stateful ingest loops match the default provider") {
    // VERDICT r11 ask #5: the stream queries with the BIGGEST stored
    // state are exactly the ones a 100 TB deployment swaps to the
    // disk-backed store first — run each loop under both providers and
    // pin the relations equal. Clean/near-dup/ANN are deterministic
    // (fixed hashes, frozen deterministic-sample centroids) → exact
    // equality; classify's weights are an iterative float fixpoint
    // whose treeAggregate combine order varies run-to-run, so its probs
    // compare at the 1e-6 contract the batch-equality spec uses.
    val Rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def exactOnes() = Seq(
      Events.streamIncrementalClean(spark, TestSpark.sf),
      Events.ingestNearDup(spark, TestSpark.sf),
      Events.ingestAnnIvf(spark, TestSpark.sf))
      .map(_.collect().map(_.toSeq).toSeq)
    def classifyRun() = Events.ingestClassify(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val defaultExact = exactOnes()
    val defaultClassify = classifyRun()
    System.setProperty("graft.stateStore.providerClass", Rocks)
    try {
      val rocksExact = exactOnes()
      Seq("stream_incremental_clean", "stream_ingest_neardup", "stream_ingest_ann")
        .zip(defaultExact.zip(rocksExact)).foreach { case (name, (d, r)) =>
          assert(d == r, s"$name diverged under RocksDB")
        }
      val rocksClassify = classifyRun()
      assert(rocksClassify.size == defaultClassify.size)
      rocksClassify.zip(defaultClassify).foreach { case (r, d) =>
        assert(r._1 == d._1 && r._2 == d._2 && r._3 == d._3 && r._5 == d._5,
          s"classify discrete field diverged under RocksDB: $r vs $d")
        assert(math.abs(r._4 - d._4) <= 1e-6,
          s"classify prob diverged under RocksDB: $r vs $d")
      }
    } finally System.clearProperty("graft.stateStore.providerClass")
  }

  test("RocksDB state store yields byte-identical results to the default provider") {
    // the provider is a deployment swap (100 TB keyspaces don't fit the
    // on-heap default) — results must not depend on it. Exercised on the
    // two heaviest state shapes: merging session windows and
    // watermark-bounded dedup.
    val Rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val defaultSessions = Events.sessionWindowAgg(spark, TestSpark.sf).collect().toSeq
    val defaultDedup = Events.dedupEvents(spark, TestSpark.sf).collect().toSeq
    System.setProperty("graft.stateStore.providerClass", Rocks)
    try {
      assert(Events.sessionWindowAgg(spark, TestSpark.sf).collect().toSeq == defaultSessions)
      assert(Events.dedupEvents(spark, TestSpark.sf).collect().toSeq == defaultDedup)
    } finally System.clearProperty("graft.stateStore.providerClass")
  }

  test("AvailableNow restart finalizes closed windows sentinel-free; the last window needs the sentinel") {
    // Investigation pinned as a spec: can bounded append-mode windows
    // finalize WITHOUT sentinel rows polluting the watched directory?
    //  - Yes, up to the watermark: a single Trigger.AvailableNow run
    //    drains the data AND runs a trailing no-data batch that applies
    //    the just-advanced watermark, emitting every window provably
    //    closed by maxTs - delay before stopping. No sentinels, no
    //    source-dir pollution. (A restart on the same checkpoint adds
    //    nothing — the watermark can't advance without data.)
    //  - The final open window(s) can NEVER finalize this way: a
    //    watermark only passes a window's end on evidence of later
    //    events, and a bounded directory has none. Closing the last
    //    window takes future data — which is exactly the sentinel
    //    append (the SDFS-append idiom). So the production pattern is:
    //    AvailableNow for steady-state incremental finalization;
    //    sentinels (or one trailing heartbeat event) only to RETIRE a
    //    stream. The memory-sink harness keeps sentinels because the
    //    verify contract needs every window, including the last.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow")
    try {
      val src = java.nio.file.Files.createDirectory(dir.resolve("src"))
      val sink = dir.resolve("sink").toString
      val ckpt = dir.resolve("ckpt").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
        src.resolve("events.parquet"))
      val schema = spark.read.parquet(s"${TestSpark.sf}/events.parquet").schema
      def runOnce(): Unit = {
        val raw = spark.readStream.schema(schema).parquet(src.toString)
        val ts = if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) else raw
        val q = ts.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("window.end").as("window_end"), col("event_type"), col("n_events"))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(180000), "AvailableNow run did not terminate")
      }
      runOnce() // one run: drain + trailing no-data batch applies the watermark
      val batch = Tables.events(spark, TestSpark.sf)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.end").as("window_end"), col("event_type"), col("n_events"))
      val maxTs = Tables.events(spark, TestSpark.sf).agg(max(col("ts"))).head().getTimestamp(0)
      val wm = java.sql.Timestamp.from(maxTs.toInstant.minusSeconds(3600))
      val closed = batch.filter(col("window_end") <= lit(wm))
      val open = batch.filter(col("window_end") > lit(wm))
      def sinkRows() = spark.read.parquet(sink).collect().toSet.map(
        (r: org.apache.spark.sql.Row) => r.toSeq)
      assert(sinkRows() == closed.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq),
        "one AvailableNow run must emit exactly the windows the watermark closed")
      runOnce() // restart on the same checkpoint: no data, no advance, no output
      assert(sinkRows() == closed.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq),
        "a data-less restart must not emit anything further")
      assert(open.count() > 0,
        "the final open window(s) must still be missing — that's what sentinels are for")
    } finally {
      val walk = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  test("stream_sessionize equals the batch gaps-and-islands sessionization") {
    val streamed = Events.sessionize(spark, TestSpark.sf)
    Tables.events(spark, TestSpark.sf).createOrReplaceTempView("ev_batch")
    val batch = spark.sql(
      """WITH m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR ts > lag(ts) OVER w + INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_s
        | FROM ev_batch WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, value,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid, min(ts) AS session_start,
        | max(ts) AS session_end, count(*) AS n_events,
        | round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("CAPPED streamed incremental clean equals the capped batch gate across staged epochs") {
    // The maxShingleDf chain integration (r15): the loop maintains one
    // extra stored relation — the epoch's hot-shingle snapshot,
    // advanced from the prior committed one plus the delta's cap
    // crossings — and the converged kept set must equal the CAPPED
    // batch clean gate over the final corpus, through the same staged
    // re-delivery/shadow/removal epochs the uncapped leg runs.
    import graft.operators.Corpus
    def keptView(capped: Option[Int]) =
      Corpus.ledger(Tables.documents(spark, TestSpark.sf), capped)
        .filter(col("doc_id") === col("cluster_id") && col("quality") >= 0.75)
        .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id")).collect().toSeq
    val streamed = Events.streamIncrementalClean(spark, TestSpark.sf,
      maxShingleDf = Some(Events.CleanCapDf)).collect().toSeq
    val batchCapped = keptView(Some(Events.CleanCapDf))
    assert(streamed.nonEmpty && streamed == batchCapped,
      "capped streamed ledger diverged from the capped batch gate")
    // non-vacuity: the cap must BITE at this SF (excluded hot shingles
    // kill real edges, so the capped kept set differs from uncapped) —
    // otherwise this leg proves only that the cap plumbing is inert
    assert(streamed != keptView(None),
      s"cap ${Events.CleanCapDf} does not bite at ${TestSpark.sf} — vacuous leg")
  }

  test("CAPPED streamed incremental clean survives the post-hot-write crash replay") {
    // the capped branch's OWN worst replay point (its crash hook fires
    // post-hot-write, pre-ledger — the between-markers hook defers to
    // it in capped incremental epochs): the torn epoch's hot snapshot
    // is on disk while the epoch is uncommitted, and the replay must
    // re-advance from the committed PREDECESSOR's snapshot and
    // overwrite the stale one idempotently — converging to the
    // identical capped batch truth
    import graft.operators.Corpus
    val streamed = Events.streamIncrementalClean(spark, TestSpark.sf,
      crashAtEpoch = Some(1L), maxShingleDf = Some(Events.CleanCapDf)).collect().toSeq
    val batch = Corpus.ledger(Tables.documents(spark, TestSpark.sf), Some(Events.CleanCapDf))
      .filter(col("doc_id") === col("cluster_id") && col("quality") >= 0.75)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "crash-replayed capped loop diverged from the capped batch gate")
  }

  test("CAPPED loop prunes hot-shingle snapshots on the compaction cadence") {
    // VERDICT r15 #4: the hot_shingles dirs were the one stored
    // relation outside the compactEvery cadence — per-epoch snapshots
    // accumulated forever. The prune keeps exactly TWO per window: the
    // just-committed epoch's (what every future epoch reads) and its
    // committed predecessor's (what a replay of THIS epoch reads if
    // the process dies after the prune but before the stream
    // checkpoint commits — the chains survive that window via their
    // compacted base, a deleted snapshot would not).
    import graft.operators.Corpus
    val hotProbe = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Long])]
    val streamed = Events.streamIncrementalClean(spark, TestSpark.sf,
      compactEvery = 1, maxShingleDf = Some(Events.CleanCapDf),
      hotDirsProbe = Some(hotProbe)).collect().toSeq
    val batchCapped = Corpus.ledger(Tables.documents(spark, TestSpark.sf),
      Some(Events.CleanCapDf))
      .filter(col("doc_id") === col("cluster_id") && col("quality") >= 0.75)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batchCapped,
      "capped loop with per-epoch compaction + hot prune diverged from the capped batch gate")
    // every compaction window (epochs 1 and 2 at compactEvery=1) must
    // leave exactly the committed epoch + its predecessor
    val survivors = hotProbe.toMap
    assert(survivors.keySet == Set(1L, 2L), s"prune ran at ${survivors.keySet}, expected epochs 1 and 2")
    assert(survivors(1L) == Seq(0L, 1L) && survivors(2L) == Seq(1L, 2L),
      s"hot snapshot survivors $survivors — expected (predecessor, committed) per window")
  }

  test("stream_incremental_clean's maintained ledger converges to the batch clean gate") {
    val probe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val ledgerProbe = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val streamed = Events.streamIncrementalClean(spark, TestSpark.sf, epochProbe = Some(probe),
      ledgerDeltaProbe = Some(ledgerProbe))
      .collect().toSeq
    // batch truth: the kept view of the from-scratch ledger over the
    // whole corpus (the same filter the stream's consumer view applies)
    val docs = Tables.documents(spark, TestSpark.sf)
    val batch = graft.operators.Corpus.ledger(docs)
      .filter(col("doc_id") === col("cluster_id") && col("quality") >= 0.75)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // all three staged arrivals processed as separate micro-batches —
    // the second ledger update ran against real prior state, the third
    // is the REMOVAL epoch (tombstone-only shadow retraction)
    val epochs = probe.toMap
    assert(epochs.keySet == Set(0L, 1L, 2L), s"expected exactly 3 data batches, got $probe")
    assert(epochs.values.forall(_ > 0), s"an arrival batch was empty: $probe")
    // the staging really RE-DELIVERS: arrival 1 carries stale drafts of
    // the %10 docs (and the negative-id shadows), arrival 2 their true
    // text — so the batch counts overlap by exactly the %10 population
    // plus the shadow population, and the equality above is a live gate
    // on the tombstone resolution of all four state chains (a surviving
    // stale text row, posting, manifest hash, or shadow ledger row
    // would shift the ledger away from the batch truth)
    val n = docs.count()
    val redelivered = docs.filter(col("doc_id") % graft.streaming.Events.RedeliveryMod === 0).count()
    val shadows = docs.filter(col("doc_id") % graft.streaming.Events.ShadowMod === graft.streaming.Events.ShadowRem).count()
    // arrival 3 also carries the UNCHANGED re-crawl wave: the %9 docs
    // re-delivered with byte-identical text. The manifest diff sees
    // them as 'unchanged' (no recompute seed) while the epoch's
    // tombstone kills their older ledger rows — the equality with the
    // batch truth above is the live gate on the hash-unchanged CARRY
    // (ADVICE r12 high: without it every unchanged page silently
    // vanishes from the cleaned corpus)
    val identical = docs.filter(
      col("doc_id") % graft.streaming.Events.IdenticalRedeliveryMod === 0).count()
    assert(redelivered > 0, "testdata has no %10 docs — staging lost its re-delivery leg")
    assert(shadows > 0, "testdata has no %20==3 docs — staging lost its removal leg")
    assert(identical > 0, "testdata has no %9 docs — staging lost its unchanged-re-crawl leg")
    assert(epochs(0L) + epochs(1L) == n + redelivered + shadows,
      s"arrival overlap ${epochs(0L)} + ${epochs(1L)} != $n + $redelivered + $shadows")
    assert(epochs(2L) == shadows + identical,
      s"final epoch ${epochs(2L)} != $shadows shadow retractions + $identical unchanged re-deliveries")
    // the removal leg is OBSERVABLE, not vacuous: the shadows usurped
    // their originals' canonical slots, so at least one %20==3 original
    // must be present in the restored kept set (equality with the batch
    // truth already implies it — this names the mechanism on failure)
    assert(streamed.exists(_.getLong(0) % graft.streaming.Events.ShadowMod == graft.streaming.Events.ShadowRem),
      "no shadowed original in the final kept set — retraction leg vacuous or broken")
    // the per-epoch LEDGER write is blast-radius-sized, never
    // corpus-sized: epoch 0 is the bootstrap (everything recomputed),
    // epoch 1 must cover at least its own arrivals (every arrival is a
    // seed) but strictly less than the whole corpus (carried docs keep
    // their epoch-0 rows — a corpus-width write here means the
    // changelog design regressed to full rewrites); epoch 2 recomputes
    // only the removed shadows' MATES (the removal blast radius — the
    // shadows themselves write no rows, their tombstone retracts them)
    val deltas = ledgerProbe.toMap
    assert(deltas(0L) == epochs(0L), s"bootstrap delta ${deltas(0L)} != batch ${epochs(0L)}")
    assert(deltas(1L) >= epochs(1L) && deltas(1L) < n,
      s"epoch-1 ledger delta ${deltas(1L)} not blast-radius-sized (batch ${epochs(1L)}, corpus $n)")
    // ≥ identical: every unchanged re-delivery must land an epoch-2
    // replacement row (the carry — or the recompute, if its cluster
    // neighborhood changed), else the layered reader drops the doc
    assert(deltas(2L) >= identical && deltas(2L) < n,
      s"final-epoch ledger delta ${deltas(2L)} not (carry + blast-radius)-sized " +
        s"($identical unchanged re-deliveries, corpus $n)")
    // in-stream compaction every epoch (all four chains folding through
    // the shared-tombstone multi-chain compactor, ledger LWW on top,
    // bucket layouts auto-preserved) must not perturb a single row —
    // the swap machinery firing BETWEEN live micro-batches, over a
    // store that still carries un-consumed removal tombstones
    val compacted = Events.streamIncrementalClean(spark, TestSpark.sf, compactEvery = 1)
      .collect().toSeq
    assert(compacted == batch, "per-epoch compaction changed the converged ledger")
  }
}
