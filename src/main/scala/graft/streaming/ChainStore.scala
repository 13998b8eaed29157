package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import Events.{ChainBuckets, chainBucket, collectBuckets, committedEpochsBelow,
  compactAdditiveChain, compactTombstonedChains, deleteDirQuietly, probeAdd,
  prunedChainRows, readGenMarker, recoverInterruptedCompaction, tombstoneAggregate,
  tombstoneResolvedRows, tombstoneResolvedRowsWith, withChainPartitionCols, writeGenMarker}

/** Chain-store pieces shared by every tombstoned delta-chain loop. */
private[graft] object ChainStore {

  /** The epoch's tombstone aggregate = the PRIOR epochs' aggregate ⊕
    * this batch's retired keys at `epoch` — no second chain read. The
    * epoch exceeds every prior one, so the per-key max is exact, and a
    * crashed attempt's own-epoch tombstone dir holds the same recomputed
    * set, so leaving it out of `prior` loses nothing on replay. Both
    * arms of the merge end in the per-key groupBy: the aggregate's
    * invariant is one row per key, and a micro-batch carrying duplicate
    * rows for one key would otherwise seed duplicate keys on the
    * first-ever retirement epoch, fanning out every chain row of that
    * key in the left_outer liveness probes downstream. Persisted when
    * new; without retirements it IS `prior`. */
  def epochTombstones(prior: Option[DataFrame], retired: DataFrame, haveRetired: Boolean,
                      epoch: Long, keyCol: String): Option[DataFrame] =
    if (!haveRetired) prior
    else {
      val ours = retired.select(col(keyCol)).withColumn("tomb_epoch", lit(epoch))
      Some(prior.fold(ours)(p => p.unionByName(ours))
        .groupBy(col(keyCol))
        .agg(max(col("tomb_epoch")).as("tomb_epoch"))
        .persist())
    }

  /** The value schema of a per-generation additive chain: per-cell
    * signed row counts, so sum(n) over the chain is the generation's
    * live row count. */
  val AdditiveSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType), StructField("n", LongType)))

  /** The bucket-cursor chunk of a migration: `perEpoch` buckets per
    * epoch from the cursor origin on. A pure function of
    * epoch − origin, so a replayed epoch recomputes its own chunk. */
  def cursor(origin: Long, epoch: Long, perEpoch: Int): Seq[Int] = {
    val b0 = ((epoch - origin) * perEpoch).toInt
    b0 until math.min(b0 + perEpoch, ChainBuckets)
  }
}

/** Generation roles for one epoch: the generation serving queries, the
  * in-flight migration (target, trip epoch) if any, and the COMMIT
  * generation, which is the migration source while one is in flight
  * and the active generation otherwise. */
private[graft] final case class Roles(active: Int, inFlight: Option[(Int, Long)], commit: Int)

/** One epoch's retirements: the prior epochs' tombstone aggregate
  * (persisted), the retired keys (removed ∪ re-delivered, persisted)
  * and whether there are any. */
private[graft] final case class Retirements(prior: Option[DataFrame], retired: DataFrame,
                                            any: Boolean) {
  def release(): Unit = {
    retired.unpersist(blocking = false)
    prior.foreach(_.unpersist(blocking = false))
  }
}

/** The generational chain store behind the two migrating loops,
  * [[Events.ingestAnnIvf]] (IVF index) and [[Events.ingestClassify]]
  * (text classifier). A loop keeps one model generation serving
  * queries; when its drift signal trips, it trains generation T = S+1
  * and builds T's chains in the background, then cuts the query side
  * over once T is complete. Layout under `root`:
  *
  *  - `<primary>_g<g>/batch=e/bucket=b` — generation g's output chain
  *    (assignments / scores), bucketed by `keyCol` ([[Events.chainBucket]]).
  *    The commit generation's delta is the epoch's LAST write: it
  *    commits the epoch;
  *  - `<additive>_g<g>/batch=e` — generation g's (cell, n) count chain:
  *    adds +1, retirements −1, so sum(n) is g's live row count;
  *  - `<name>_g<g>` — any other per-generation artifact (the frozen
  *    model, marker files). Every generation uses the same `_g<g>`
  *    naming, so retiring a generation deletes exactly its entries;
  *  - `<source>/batch=e/bucket=b` — the generation-independent live
  *    corpus chain a migration backfills from;
  *  - `tombstones/batch=e` — the retired keys every chain resolves
  *    against: a `batch=p` row is live iff p ≥ its key's max tombstone
  *    epoch;
  *  - `active_gen` ("g@cutoverEpoch") and `migration` ("t@tripEpoch")
  *    markers, written atomically (tmp + move).
  *
  * Crash-replay contract: every delta write overwrites its own
  * `batch=e` dir, the roles are a pure function of the markers plus the
  * epoch ([[beginEpoch]]), the chunk cursor is a pure function of
  * epoch − origin ([[ChainStore.cursor]]), and compaction is
  * prefix-bounded to epochs below the current one. So an epoch that
  * crashes after any subset of its writes replays to the same store.
  *
  * Migration protocol, per epoch:
  *  1. [[beginEpoch]]: repair crash-stranded compaction swaps, read the
  *     roles. The migration marker outlives its cutover by exactly one
  *     epoch: a replay of the cutover epoch must still see in-flight
  *     roles, or its arrival-only commit write would overwrite the
  *     chunk rows. Deleting it at the first epoch past the cutover is
  *     the trip RE-ARM, so the next migration takes the same path;
  *  2. [[Migration.target]]: with no migration in flight, the loop's
  *     trip signal writes the migration marker;
  *  3. [[Migration.chunk]]: the target's backfill — the source chain's
  *     live rows in the cursor buckets, anti-joined against the
  *     target's prior-epoch keys and this epoch's arrivals (anti-join,
  *     not a batch filter, so compaction folding is harmless);
  *  4. [[Migration.gate]]: the target is complete when its live count
  *     equals the commit generation's — two additive-chain sums, never
  *     a corpus-width count — and the query side cuts over once;
  *  5. [[compact]]: on the cadence, fold the commit, source and target
  *     chains (sharing one tombstone dir, so in ONE call) and the
  *     additive chains, and delete drained generations (every one below
  *     the commit generation, which no future epoch reads).
  *
  * The protocol core (roles, trip, cutover, retirement, listing, cursor)
  * touches only files, so it is testable without Spark.
  */
private[graft] final class GenerationalStore(root: java.nio.file.Path, keyCol: String,
                                             primary: String, primarySchema: StructType,
                                             additive: String,
                                             source: String, sourceSchema: StructType) {
  import ChainStore._

  private val tombstoneDir = root.resolve("tombstones").toString
  val sourceDir: String = root.resolve(source).toString
  private val activeGenPath = root.resolve("active_gen")
  private val migrationPath = root.resolve("migration")

  def genPath(name: String, g: Int): java.nio.file.Path = root.resolve(s"${name}_g$g")
  def genDir(name: String, g: Int): String = genPath(name, g).toString
  def primaryDir(g: Int): String = genDir(primary, g)

  // ---- protocol core (files only) ----

  private val GenEntry = "(.+)_g(\\d+)".r

  /** Every `<name>_g<g>` entry on disk, as (file, name, generation). */
  private def genEntries: Seq[(java.io.File, String, Int)] =
    Option(root.toFile.listFiles()).toSeq.flatten.flatMap { f =>
      f.getName match {
        case GenEntry(name, g) => Some((f, name, g.toInt))
        case _ => None
      }
    }

  /** Generations whose primary chain is on disk, ascending. */
  def generations: Seq[Int] =
    genEntries.collect { case (f, `primary`, g) if f.isDirectory => g }.sorted

  /** Repair every chain a crash mid-compaction-swap may have left
    * stranded (whatever the marker state), then return the epoch's
    * roles, deleting a migration marker whose cutover is strictly in
    * the past. */
  def beginEpoch(epoch: Long): Roles = {
    (sourceDir +: genEntries.collect {
      case (f, name, _) if f.isDirectory && (name == primary || name == additive) => f.getPath
    }).foreach(d => recoverInterruptedCompaction(java.nio.file.Paths.get(d)))
    val (active, cutEpoch) = readGenMarker(activeGenPath).getOrElse((1, -1L))
    val inFlight = readGenMarker(migrationPath) match {
      case Some((t, _)) if t == active && epoch > cutEpoch =>
        java.nio.file.Files.deleteIfExists(migrationPath); None
      case other => other
    }
    Roles(active, inFlight, inFlight.map(_._1 - 1).getOrElse(active))
  }

  def activeGeneration: Int = readGenMarker(activeGenPath).map(_._1).getOrElse(1)

  /** Start migrating to generation commit + 1 at this epoch. */
  def trip(commitGen: Int, epoch: Long): (Int, Long) = {
    writeGenMarker(migrationPath, s"${commitGen + 1}@$epoch")
    (commitGen + 1, epoch)
  }

  /** Flip the query side to generation `t`. */
  def cutover(t: Int, epoch: Long): Unit = writeGenMarker(activeGenPath, s"$t@$epoch")

  /** Delete every generation strictly below the commit generation —
    * chains, frozen artifacts and markers. Idempotent and replay-safe:
    * a replayed epoch reconstructs the same roles and never reads below
    * its commit generation. */
  def retireDrained(commitGen: Int): Unit =
    genEntries.foreach { case (f, _, g) => if (g < commitGen) deleteDirQuietly(f.toPath) }

  // ---- chain I/O ----

  private def schemaOf(dir: String): StructType =
    if (dir == sourceDir) sourceSchema else primarySchema

  private def committedBefore(dir: String, epoch: Long): Boolean =
    committedEpochsBelow(dir, epoch).nonEmpty

  /** Write `rows` as the `batch=epoch` delta of a bucketed chain, one
    * file per bucket. */
  def writeDelta(dir: String, epoch: Long, rows: DataFrame): Unit =
    rows.withColumn("bucket", chainBucket(col(keyCol)))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/batch=$epoch")

  /** A schema-correct empty primary delta. It still commits the epoch,
    * and goes through [[writeDelta]]'s bucket layout: an unpartitioned
    * empty write would land a part file at a different directory depth
    * and break partition discovery over the whole chain. */
  def emptyDelta(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], primarySchema)

  /** Generation g's primary delta of this epoch, read back. */
  def delta(spark: SparkSession, g: Int, epoch: Long): DataFrame =
    spark.read.schema(primarySchema).parquet(s"${primaryDir(g)}/batch=$epoch")

  def writeAdditive(g: Int, epoch: Long, rows: DataFrame): Unit =
    rows.write.mode("overwrite").parquet(s"${genDir(additive, g)}/batch=$epoch")

  /** Generation g's additive rows up to `epoch`. The partition-column
    * guard covers a chain whose deltas are all zero-file. */
  def additiveRows(spark: SparkSession, g: Int, epoch: Long): DataFrame =
    withChainPartitionCols(
      spark.read.schema(AdditiveSchema).parquet(genDir(additive, g)), "batch")
      .filter(col("batch") <= lit(epoch))

  /** Live rows of a bucketed chain up to `upTo`, read from the given
    * buckets only (file-level pruning), resolved through `tombAgg`. */
  private def liveRows(spark: SparkSession, dir: String, upTo: Long,
                       tombAgg: Option[DataFrame], buckets: Seq[Int]): DataFrame =
    tombstoneResolvedRowsWith(
      prunedChainRows(spark, dir, upTo, buckets, Some(schemaOf(dir))), tombAgg, keyCol)

  /** The consumer's read of a whole chain, tombstone-resolved. */
  def resolvedChain(spark: SparkSession, dir: String): DataFrame =
    tombstoneResolvedRows(spark,
      spark.read.schema(schemaOf(dir)).parquet(dir).drop("bucket"), tombstoneDir, keyCol)

  /** The epoch's retired keys: the removals plus the RE-DELIVERED
    * arrivals, i.e. those the commit chain already holds live. One
    * tombstone delta then retracts both kinds' old rows, while the
    * batch's own epoch-e rows survive. Membership reads the commit
    * chain pruned to the arrivals' buckets and resolved through the
    * PRIOR tombstones, so a removed-then-re-added key is new whatever
    * the compaction timing. `arrivalIds` is the arrivals' key column. */
  def retirements(spark: SparkSession, epoch: Long, commitGen: Int,
                  removals: DataFrame, arrivalIds: DataFrame): Retirements = {
    val prior = tombstoneAggregate(spark, tombstoneDir, keyCol, upTo = Some(epoch - 1))
      .map(_.persist())
    val redelivered =
      if (!committedBefore(primaryDir(commitGen), epoch)) removals.limit(0)
      else arrivalIds.join(
        liveRows(spark, primaryDir(commitGen), epoch - 1, prior,
          collectBuckets(arrivalIds, col(keyCol))).select(col(keyCol)),
        Seq(keyCol), "left_semi")
    val retired = removals.unionByName(redelivered).persist()
    Retirements(prior, retired, !retired.isEmpty)
  }

  /** The tombstone delta, written only when non-empty: a
    * retirement-free run never grows the tombstone chain, and every
    * reader keeps the no-tombstone fast path (replay recomputes the
    * same set, so the condition is idempotent). */
  def tombstoneWrite(r: Retirements, epoch: Long): Seq[() => Unit] =
    if (!r.any) Seq.empty
    else Seq(() => r.retired.write.mode("overwrite").parquet(s"$tombstoneDir/batch=$epoch"))

  /** The retired keys' live rows in generation g's primary chain before
    * this epoch (bucket-pruned), for the negative side of g's additive
    * delta. None when nothing retired or the chain has no committed
    * epoch yet. */
  def retiredPriorRows(spark: SparkSession, g: Int, epoch: Long,
                       r: Retirements): Option[DataFrame] =
    if (!r.any || !committedBefore(primaryDir(g), epoch)) None
    else Some(liveRows(spark, primaryDir(g), epoch - 1, r.prior,
        collectBuckets(r.retired, col(keyCol)))
      .join(r.retired, Seq(keyCol), "left_semi"))

  /** In-stream compaction every `every` epochs, prefix-bounded to epochs
    * below this one. The commit, source and in-flight target chains
    * share one tombstone dir, so they fold in ONE call: the compactor
    * consumes the tombstones only after every chain swapped. The
    * additive chains fold by sum. Drained generations retire on the
    * same cadence. */
  def compact(spark: SparkSession, commitGen: Int, epoch: Long, every: Int): Unit =
    if (epoch > 0 && epoch % every.toLong == 0) {
      val targetGen = readGenMarker(migrationPath).map(_._1).filter(_ != commitGen)
      def onDisk(d: String) = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d))
      compactTombstonedChains(spark,
        (Seq(primaryDir(commitGen), sourceDir) ++ targetGen.map(primaryDir)).filter(onDisk),
        tombstoneDir, keyCol,
        partitionColsFor = _ => Seq("bucket"),
        upTo = Some(epoch - 1),
        dataSchemaFor = d => Some(schemaOf(d)))
      (commitGen +: targetGen.toSeq).map(genDir(additive, _)).filter(onDisk).foreach(d =>
        compactAdditiveChain(spark, d, Seq("cell"), "n",
          upTo = Some(epoch - 1), dataSchema = Some(AdditiveSchema)))
      retireDrained(commitGen)
    }

  // ---- migration epoch ----

  /** Run one migration-mode epoch's `body` with its tombstone aggregate
    * (prior ⊕ this epoch's retirements), a note for the migration probe
    * and a stage lap, releasing the aggregate afterwards. */
  def migrationEpoch(spark: SparkSession, epoch: Long, roles: Roles, r: Retirements,
                     probe: Option[scala.collection.mutable.Buffer[(Long, String)]])(
                     body: Migration => Unit): Unit = {
    val tombstones = epochTombstones(r.prior, r.retired, r.any, epoch, keyCol)
    val m = new Migration(spark, epoch, roles, tombstones)
    try body(m)
    finally tombstones.filterNot(t => r.prior.exists(_ eq t))
      .foreach(_.unpersist(blocking = false))
    probe.foreach(probeAdd(_, (epoch, m.note.toString.trim)))
  }

  final class Migration private[GenerationalStore] (spark: SparkSession, epoch: Long,
                                                    roles: Roles,
                                                    tombstones: Option[DataFrame]) {
    val note = new StringBuilder
    /** Per-stage soak laps. Labels avoid the "epoch N" prefix: the soak
      * reads those as removal-epoch blast-radius stages, while the
      * chunk work is arrival-plus-chunk-proportional by design. */
    val lap: String => Unit = graft.operators.Snapshot.incrLap()

    /** The in-flight migration or, with none in flight, a new one if
      * `tripped` (evaluated only then: the trip check re-arms when the
      * previous migration's marker is deleted). */
    def target(tripped: => Boolean): Option[(Int, Long)] =
      roles.inFlight.orElse {
        if (!tripped) None
        else {
          note ++= "trip "
          Some(trip(roles.commit, epoch))
        }
      }

    /** The source chain's live rows up to this epoch, all buckets. */
    def liveSource(): DataFrame = liveRows(spark, sourceDir, epoch, tombstones, 0 until ChainBuckets)

    /** Target `t`'s backfill chunk for this epoch (see the protocol
      * doc), with the cursor counted from `origin`. */
    def chunk(t: Int, origin: Long, perEpoch: Int, arrivalIds: DataFrame): DataFrame = {
      val buckets = cursor(origin, epoch, perEpoch)
      if (buckets.isEmpty) liveSource().limit(0)
      else {
        note ++= s"chunk=[${buckets.head},${buckets.last}] "
        val tPriorIds =
          if (!committedBefore(primaryDir(t), epoch)) arrivalIds.limit(0)
          else liveRows(spark, primaryDir(t), epoch - 1, tombstones, buckets).select(col(keyCol))
        liveRows(spark, sourceDir, epoch, tombstones, buckets)
          .join(tPriorIds, Seq(keyCol), "left_anti")
          .join(arrivalIds, Seq(keyCol), "left_anti")
      }
    }

    /** The completeness gate: cut over to `t` once its live count
      * equals the commit generation's. A replay of the cutover epoch
      * sees `t` already active and only re-lands its deltas.
      * `gateProbe` accumulates the rows entering each sum. */
    def gate(t: Int, gateProbe: Option[scala.collection.mutable.Buffer[(Long, Int, Long)]]): Unit =
      if (roles.active != t) {
        val liveN = liveCount(roles.commit, gateProbe)
        val tN = liveCount(t, gateProbe)
        note ++= s"g$t=$tN/$liveN "
        lap(s"migration completeness gate (epoch $epoch)")
        if (tN == liveN) {
          cutover(t, epoch)
          note ++= "cutover "
        }
      }

    private def liveCount(g: Int,
                          gateProbe: Option[scala.collection.mutable.Buffer[(Long, Int, Long)]]): Long = {
      val chain = additiveRows(spark, g, epoch)
      // probe-only count job, keyed (epoch, generation) so a replayed
      // epoch supersedes its own entry
      gateProbe.foreach { buf =>
        val rows = chain.count()
        val i = buf.indexWhere(p => p._1 == epoch && p._2 == g)
        if (i >= 0) buf(i) = (epoch, g, rows) else buf += ((epoch, g, rows))
      }
      chain.agg(coalesce(sum(col("n")), lit(0L)).as("n")).head().getLong(0)
    }
  }
}
