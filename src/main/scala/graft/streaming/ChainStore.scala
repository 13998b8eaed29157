package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import Events.{ChainBuckets, chainBucket, collectBuckets, committedEpochsBelow,
  compactAdditiveChain, compactTombstonedChains, deleteDirQuietly,
  prunedChainRows, pruneSnapshotChain, readGenMarker, recoverInterruptedCompaction,
  resolveLww, tombstoneAggregate, tombstoneResolvedRowsWith, withChainPartitionCols,
  writeGenMarker}

/** One chain of a [[ChainStore]], described once; every read, write,
  * gate and compaction takes the chain's layout from here.
  *
  *  - `name` — its dir under the store root, `name/batch=e[/bucket=b]`;
  *  - `schema` — its value columns (the stored columns minus the
  *    partition dirs). Reads are explicit-schema, because a removal-only
  *    epoch can commit a zero-file delta and inference over it fails;
  *  - `bucketBy` — the column whose [[Events.chainBucket]] names the
  *    `bucket=` sub-partition, so probes file-prune; None = unbucketed;
  *  - `lww` — a changelog: after the tombstones, the newest surviving
  *    row per key wins ([[Events.resolveLww]]);
  *  - `commits` — its `_SUCCESS` is part of the epoch's commit gate;
  *  - `snapshot` — a per-epoch full snapshot, not a delta chain: never
  *    resolved or compacted, only pruned ([[ChainStore.pruneSnapshots]]).
  */
private[graft] final case class Chain(name: String, schema: StructType,
                                      bucketBy: Option[String] = None,
                                      lww: Boolean = false, commits: Boolean = false,
                                      snapshot: Boolean = false)

private[graft] object ChainStore {

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

  /** The commit gate: the latest epoch strictly below `epoch` at which
    * EVERY dir in `dirs` carries parquet's `_SUCCESS` marker. A crash
    * can leave any subset of an epoch's writes, including a torn dir
    * with files and no marker, so each marker is required explicitly.
    * Strictly below: a replayed epoch never reads its own crashed
    * attempt's state. */
  def latestCommitted(dirs: Seq[String], epoch: Long): Option[Long] =
    dirs.headOption.toSeq.flatMap(committedEpochsBelow(_, epoch))
      .filter(e => dirs.tail.forall(d => Files.exists(Paths.get(d, s"batch=$e", "_SUCCESS"))))
      .maxOption
}

/** One epoch's retirements: the prior epochs' tombstone aggregate
  * (persisted), the retired keys (removed ∪ re-delivered) and whether
  * there are any. */
private[graft] final case class Retirements(prior: Option[DataFrame], retired: DataFrame,
                                            any: Boolean) {
  def release(): Unit = {
    retired.unpersist(blocking = false)
    prior.foreach(_.unpersist(blocking = false))
  }
}

/** The tombstoned delta-chain store behind the four index-maintaining
  * loops. [[Events.streamIncrementalClean]] and [[Events.ingestNearDup]]
  * run on it directly; [[GenerationalStore]] builds the ANN and
  * classify loops' generations on it. Layout under `root`:
  *
  *  - one dir per declared [[Chain]], `name/batch=e[/bucket=b]`. Every
  *    delta write overwrites its own `batch=e` dir, one file per bucket;
  *  - `tombstones/batch=e` — the keys `keyCol` retired at epoch e,
  *    shared by every chain: a `batch=p` row is live iff p ≥ its key's
  *    max tombstone epoch, so one tombstone write retracts a key's rows
  *    from all chains at once. Written only when non-empty, so a
  *    retirement-free run keeps every reader's no-tombstone fast path.
  *
  * Epoch protocol: [[recover]] first (a crash mid-compaction-swap can
  * strand a chain's newest prefix in `_compact_tmp`); reads of prior
  * state resolve at the commit gate ([[committedBelow]]: the latest
  * epoch below this one where every `commits` chain has `_SUCCESS`);
  * the non-committing deltas, the tombstone and any snapshot land
  * before the committing write; [[compact]] folds the delta chains on
  * the cadence, prefix-bounded to epochs below this one, and prunes
  * each snapshot chain to this epoch and its committed predecessor.
  * So an epoch that crashes after any subset of its writes replays to
  * the same store.
  *
  * The store never branches on its caller: the layout of each read,
  * write and compaction comes from the chain's description.
  */
private[graft] class ChainStore(root: Path, keyCol: String, protected val declared: Seq[Chain]) {

  val tombstoneDir: String = root.resolve("tombstones").toString

  def dir(c: Chain): String = root.resolve(c.name).toString

  private def deltaChains: Seq[Chain] = declared.filterNot(_.snapshot)

  /** Every chain dir a compaction may have touched. */
  protected def compactedDirs: Seq[String] = deltaChains.map(dir)

  /** The crash-swap recovery sweep: repair every chain a crash
    * mid-compaction may have left stranded, before any chain read. */
  def recover(): Unit = compactedDirs.foreach(d => recoverInterruptedCompaction(Paths.get(d)))

  /** The commit gate over `commits` (the declared commit chains by
    * default). */
  def committedBelow(epoch: Long, commits: Seq[Chain] = declared.filter(_.commits)): Option[Long] =
    ChainStore.latestCommitted(commits.map(dir), epoch)

  /** Write `rows` as chain `c`'s `batch=epoch` delta. A bucketed chain
    * is repartitioned by its bucket first, so each bucket lands wholly
    * in one task: one file per touched bucket per epoch. */
  def writeDelta(c: Chain, epoch: Long, rows: DataFrame): Unit = {
    val path = s"${dir(c)}/batch=$epoch"
    c.bucketBy match {
      case Some(k) =>
        rows.withColumn("bucket", chainBucket(col(k)))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode("overwrite").parquet(path)
      case None => rows.write.mode("overwrite").parquet(path)
    }
  }

  /** A schema-correct empty delta of `c`. It still commits an epoch,
    * and goes through [[writeDelta]]'s bucket layout: an unpartitioned
    * empty write would land a part file at a different directory depth
    * and break partition discovery over the whole chain. */
  def empty(spark: SparkSession, c: Chain): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], c.schema)

  /** Chain `c`'s `batch=epoch` delta (or snapshot), read back. */
  def delta(spark: SparkSession, c: Chain, epoch: Long): DataFrame =
    spark.read.schema(c.schema).parquet(s"${dir(c)}/batch=$epoch").drop("bucket")

  /** The latest committed snapshot of `c` before `epoch`, if any. */
  def priorSnapshot(spark: SparkSession, c: Chain, epoch: Long): Option[DataFrame] =
    committedBelow(epoch).map(delta(spark, c, _))

  /** Chain `c`'s stored rows at epochs ≤ `upTo` (all when None),
    * `batch` kept, unresolved. */
  def rows(spark: SparkSession, c: Chain, upTo: Option[Long]): DataFrame = {
    val all = withChainPartitionCols(
      spark.read.schema(c.schema).parquet(dir(c)), "batch").drop("bucket")
    upTo.fold(all)(e => all.filter(col("batch") <= lit(e)))
  }

  /** The live rows of `c` up to `upTo`, resolved through the tombstone
    * aggregate `tombs` (see [[tombstones]]), read from the given buckets
    * only (file-level pruning) when `buckets` is set. An LWW chain's
    * rows keep `batch`, for [[latest]]. */
  def live(spark: SparkSession, c: Chain, upTo: Long, tombs: Option[DataFrame],
           buckets: Option[Seq[Int]] = None): DataFrame =
    tombstoneResolvedRowsWith(
      buckets.fold(rows(spark, c, Some(upTo)))(prunedChainRows(spark, dir(c), upTo, _, Some(c.schema))),
      tombs, keyCol, keepEpoch = c.lww)

  /** The buckets of bucketed chain `c` that `rows` land in, by `c`'s
    * bucket column. */
  def bucketsOf(c: Chain, rows: DataFrame): Seq[Int] = collectBuckets(rows, col(c.bucketBy.get))

  /** [[live]] restricted to a key set: pruned to the buckets `keys`
    * land in (file skip), then semi-joined on all of `keys`' columns
    * (row skip). */
  def liveFor(spark: SparkSession, c: Chain, upTo: Long, tombs: Option[DataFrame],
              keys: DataFrame): DataFrame =
    live(spark, c, upTo, tombs, Some(bucketsOf(c, keys))).join(keys, keys.columns.toSeq, "left_semi")

  /** Last-write-wins per key over an LWW chain's live rows; other
    * chains' rows pass through. */
  def latest(c: Chain, live: DataFrame): DataFrame =
    if (c.lww) resolveLww(live, Seq(keyCol)) else live

  /** The consumer's read of `c` up to `upTo`: tombstones first, then
    * LWW where the chain is LWW. */
  def resolved(spark: SparkSession, c: Chain, upTo: Option[Long] = None): DataFrame =
    latest(c, tombstoneResolvedRowsWith(rows(spark, c, upTo),
      tombstoneAggregate(spark, tombstoneDir, keyCol, upTo), keyCol, keepEpoch = c.lww))

  /** The per-key max tombstone epoch up to `upTo`, persisted (shared by
    * every probe of an epoch); None without tombstones. */
  def tombstones(spark: SparkSession, upTo: Long): Option[DataFrame] =
    tombstoneAggregate(spark, tombstoneDir, keyCol, Some(upTo)).map(_.persist())

  /** The epoch's retired keys: the removals plus the RE-DELIVERED
    * arrivals, i.e. those the `probe` chain already holds live. One
    * tombstone delta then retracts both kinds' old rows, while the
    * batch's own epoch-e rows survive. Membership reads `probe` pruned
    * to the arrivals' buckets and resolved through the PRIOR tombstones,
    * so a removed-then-re-added key is new whatever the compaction
    * timing. With no `committed` prior state nothing is re-delivered.
    * `arrivalIds` is the arrivals' key column. */
  def retirements(spark: SparkSession, epoch: Long, committed: Boolean, probe: Chain,
                  removals: DataFrame, arrivalIds: DataFrame): Retirements = {
    val prior = tombstones(spark, epoch - 1)
    val redelivered =
      if (!committed) removals.limit(0)
      else arrivalIds.join(
        live(spark, probe, epoch - 1, prior, Some(bucketsOf(probe, arrivalIds)))
          .select(col(keyCol)),
        Seq(keyCol), "left_semi")
    val retired = removals.unionByName(redelivered).persist()
    Retirements(prior, retired, !retired.isEmpty)
  }

  /** The tombstone delta, written only when non-empty (replay
    * recomputes the same set, so the condition is idempotent). */
  def tombstoneWrite(r: Retirements, epoch: Long): Seq[() => Unit] =
    if (!r.any) Seq.empty
    else Seq(() => r.retired.write.mode("overwrite").parquet(s"$tombstoneDir/batch=$epoch"))

  /** Run `body` with the epoch's tombstone aggregate = the PRIOR
    * epochs' aggregate ⊕ this batch's retired keys at `epoch` — no
    * second chain read — and release it afterwards. The epoch exceeds
    * every prior one, so the per-key max is exact, and a crashed
    * attempt's own-epoch tombstone dir holds the same recomputed set, so
    * leaving it out of `prior` loses nothing on replay. Both arms of the
    * merge end in the per-key groupBy: the aggregate's invariant is one
    * row per key, and a micro-batch carrying duplicate rows for one key
    * would otherwise seed duplicate keys on the first-ever retirement
    * epoch, fanning out every chain row of that key in the left_outer
    * liveness probes downstream. Without retirements it IS `prior`. */
  def withEpochTombstones[T](r: Retirements, epoch: Long)(body: Option[DataFrame] => T): T = {
    val tombs =
      if (!r.any) r.prior
      else {
        val ours = r.retired.select(col(keyCol)).withColumn("tomb_epoch", lit(epoch))
        Some(r.prior.fold(ours)(p => p.unionByName(ours))
          .groupBy(col(keyCol))
          .agg(max(col("tomb_epoch")).as("tomb_epoch"))
          .persist())
      }
    try body(tombs)
    finally tombs.filterNot(t => r.prior.exists(_ eq t)).foreach(_.unpersist(blocking = false))
  }

  protected def onCadence(epoch: Long, every: Int): Boolean = epoch > 0 && epoch % every.toLong == 0

  /** Fold `chains` (sharing the tombstone dir, so in ONE call: the
    * compactor consumes tombstones only after every chain swapped),
    * prefix-bounded to epochs below `epoch`, each keeping its bucket
    * layout and LWW-resolving where it is LWW. */
  protected def compactChains(spark: SparkSession, epoch: Long, chains: Seq[Chain]): Unit = {
    val byDir = chains.map(c => dir(c) -> c).toMap
    compactTombstonedChains(spark, chains.map(dir), tombstoneDir, keyCol,
      partitionColsFor = d => byDir(d).bucketBy.map(_ => "bucket").toSeq,
      upTo = Some(epoch - 1),
      lwwKeysFor = d => if (byDir(d).lww) Seq(keyCol) else Nil,
      dataSchemaFor = d => Some(byDir(d).schema))
  }

  /** Prune every snapshot chain to this epoch's snapshot and its
    * committed predecessor's: the one a replay of THIS epoch reads if
    * the process dies after the prune but before the stream checkpoint
    * commits (see [[Events.pruneSnapshotChain]]). The kept epochs go to
    * the `SnapshotDirs` meter. */
  def pruneSnapshots(epoch: Long, hooks: LoopHooks): Unit =
    declared.filter(_.snapshot).foreach(c =>
      pruneSnapshotChain(dir(c), Set(epoch) ++ committedBelow(epoch), epoch, hooks))

  /** In-stream compaction every `hooks.compactEvery` epochs: fold all
    * delta chains, then prune the snapshot chains. True when it ran. */
  def compact(spark: SparkSession, epoch: Long, hooks: LoopHooks): Boolean = {
    val due = onCadence(epoch, hooks.compactEvery)
    if (due) {
      compactChains(spark, epoch, deltaChains)
      pruneSnapshots(epoch, hooks)
    }
    due
  }
}

/** Generation roles for one epoch: the generation serving queries, the
  * in-flight migration (target, trip epoch) if any, and the COMMIT
  * generation, which is the migration source while one is in flight
  * and the active generation otherwise. */
private[graft] final case class Roles(active: Int, inFlight: Option[(Int, Long)], commit: Int)

/** The generational chain store behind the two migrating loops,
  * [[Events.ingestAnnIvf]] (IVF index) and [[Events.ingestClassify]]
  * (text classifier), built on [[ChainStore]]. A loop keeps one model
  * generation serving queries; when its drift signal trips, it trains
  * generation T = S+1 and builds T's chains in the background, then
  * cuts the query side over once T is complete. Layout under `root`:
  *
  *  - `<primary>_g<g>/batch=e/bucket=b` — generation g's output chain
  *    (assignments / scores), bucketed by `keyCol`. The commit
  *    generation's delta is the epoch's LAST write: it commits the
  *    epoch;
  *  - `<additive>_g<g>/batch=e` — generation g's (cell, n) count chain:
  *    adds +1, retirements −1, so sum(n) is g's live row count;
  *  - `<name>_g<g>` — any other per-generation artifact (the frozen
  *    model, marker files). Every generation uses the same `_g<g>`
  *    naming, so retiring a generation deletes exactly its entries;
  *  - `<source>/batch=e/bucket=b` — the generation-independent live
  *    corpus chain a migration backfills from;
  *  - `tombstones/batch=e` — the shared tombstone chain ([[ChainStore]]);
  *  - `active_gen` ("g@cutoverEpoch") and `migration` ("t@tripEpoch")
  *    markers, written atomically (tmp + move).
  *
  * Crash-replay contract: the [[ChainStore]] one, plus: the roles are a
  * pure function of the markers plus the epoch ([[beginEpoch]]) and the
  * chunk cursor is a pure function of epoch − origin
  * ([[ChainStore.cursor]]). So an epoch that crashes after any subset of
  * its writes replays to the same store.
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
                                             source: String, sourceSchema: StructType)
  extends ChainStore(root, keyCol, Seq(Chain(source, sourceSchema, Some(keyCol)))) {
  import ChainStore._

  val sourceChain: Chain = declared.head
  private val activeGenPath = root.resolve("active_gen")
  private val migrationPath = root.resolve("migration")

  def genPath(name: String, g: Int): java.nio.file.Path = root.resolve(s"${name}_g$g")
  def genDir(name: String, g: Int): String = genPath(name, g).toString
  /** Generation g's output chain; its delta commits the epoch. */
  def primaryAt(g: Int): Chain = Chain(s"${primary}_g$g", primarySchema, Some(keyCol), commits = true)
  private def additiveAt(g: Int): Chain = Chain(s"${additive}_g$g", AdditiveSchema)

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

  override protected def compactedDirs: Seq[String] =
    super.compactedDirs ++ genEntries.collect {
      case (f, name, _) if f.isDirectory && (name == primary || name == additive) => f.getPath
    }

  /** Repair every chain a crash mid-compaction-swap may have left
    * stranded (whatever the marker state), then return the epoch's
    * roles, deleting a migration marker whose cutover is strictly in
    * the past. */
  def beginEpoch(epoch: Long): Roles = {
    recover()
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

  private def committedBefore(g: Int, epoch: Long): Boolean =
    committedBelow(epoch, Seq(primaryAt(g))).isDefined

  def writeAdditive(g: Int, epoch: Long, rows: DataFrame): Unit =
    writeDelta(additiveAt(g), epoch, rows)

  /** Generation g's additive rows up to `epoch`. The partition-column
    * guard covers a chain whose deltas are all zero-file. */
  def additiveRows(spark: SparkSession, g: Int, epoch: Long): DataFrame =
    rows(spark, additiveAt(g), Some(epoch))

  /** [[ChainStore.retirements]] probed against the commit generation's
    * chain. */
  def retirements(spark: SparkSession, epoch: Long, commitGen: Int,
                  removals: DataFrame, arrivalIds: DataFrame): Retirements =
    retirements(spark, epoch, committedBefore(commitGen, epoch), primaryAt(commitGen),
      removals, arrivalIds)

  /** The retired keys' live rows in generation g's primary chain before
    * this epoch (bucket-pruned), for the negative side of g's additive
    * delta. None when nothing retired or the chain has no committed
    * epoch yet. */
  def retiredPriorRows(spark: SparkSession, g: Int, epoch: Long,
                       r: Retirements): Option[DataFrame] =
    if (!r.any || !committedBefore(g, epoch)) None
    else Some(liveFor(spark, primaryAt(g), epoch - 1, r.prior, r.retired))

  /** In-stream compaction every `hooks.compactEvery` epochs,
    * prefix-bounded to epochs below this one: the commit, source and
    * in-flight target chains in one call, the additive chains by sum.
    * Drained generations retire on the same cadence. */
  def compact(spark: SparkSession, commitGen: Int, epoch: Long, hooks: LoopHooks): Unit =
    if (onCadence(epoch, hooks.compactEvery)) {
      val targetGen = readGenMarker(migrationPath).map(_._1).filter(_ != commitGen)
      def onDisk(c: Chain) = java.nio.file.Files.isDirectory(Paths.get(dir(c)))
      compactChains(spark, epoch,
        (Seq(primaryAt(commitGen), sourceChain) ++ targetGen.map(primaryAt)).filter(onDisk))
      (commitGen +: targetGen.toSeq).map(additiveAt).filter(onDisk).foreach(c =>
        compactAdditiveChain(spark, dir(c), Seq("cell"), "n",
          upTo = Some(epoch - 1), dataSchema = Some(AdditiveSchema)))
      retireDrained(commitGen)
    }

  // ---- migration epoch ----

  /** Run one migration-mode epoch's `body` with its tombstone aggregate
    * (prior ⊕ this epoch's retirements), a note for the `Migration`
    * meter and a stage lap. */
  def migrationEpoch(spark: SparkSession, epoch: Long, roles: Roles, r: Retirements,
                     hooks: LoopHooks)(body: Migration => Unit): Unit = {
    val m = withEpochTombstones(r, epoch) { tombstones =>
      val m = new Migration(spark, epoch, roles, tombstones, hooks)
      body(m)
      m
    }
    hooks.record(LoopHooks.Migration, epoch)(m.note.toString.trim)
  }

  final class Migration private[GenerationalStore] (spark: SparkSession, epoch: Long,
                                                    roles: Roles,
                                                    tombstones: Option[DataFrame],
                                                    hooks: LoopHooks) {
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
    def liveSource(): DataFrame =
      live(spark, sourceChain, epoch, tombstones, Some(0 until ChainBuckets))

    /** Target `t`'s backfill chunk for this epoch (see the protocol
      * doc), with the cursor counted from `origin`. */
    def chunk(t: Int, origin: Long, perEpoch: Int, arrivalIds: DataFrame): DataFrame = {
      val buckets = cursor(origin, epoch, perEpoch)
      if (buckets.isEmpty) liveSource().limit(0)
      else {
        note ++= s"chunk=[${buckets.head},${buckets.last}] "
        val tPriorIds =
          if (!committedBefore(t, epoch)) arrivalIds.limit(0)
          else live(spark, primaryAt(t), epoch - 1, tombstones, Some(buckets)).select(col(keyCol))
        live(spark, sourceChain, epoch, tombstones, Some(buckets))
          .join(tPriorIds, Seq(keyCol), "left_anti")
          .join(arrivalIds, Seq(keyCol), "left_anti")
      }
    }

    /** The completeness gate: cut over to `t` once its live count
      * equals the commit generation's. A replay of the cutover epoch
      * sees `t` already active and only re-lands its deltas. The
      * `GateInput` meter counts the rows entering each sum. */
    def gate(t: Int): Unit =
      if (roles.active != t) {
        val liveN = liveCount(roles.commit)
        val tN = liveCount(t)
        note ++= s"g$t=$tN/$liveN "
        lap(s"migration completeness gate (epoch $epoch)")
        if (tN == liveN) {
          cutover(t, epoch)
          note ++= "cutover "
        }
      }

    private def liveCount(g: Int): Long = {
      val chain = additiveRows(spark, g, epoch)
      hooks.record(LoopHooks.GateInput, (epoch, g))(chain.count())
      chain.agg(coalesce(sum(col("n")), lit(0L)).as("n")).head().getLong(0)
    }
  }
}
