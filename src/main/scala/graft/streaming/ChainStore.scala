package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** How a chain's deltas resolve, in the consumer's read and in the
  * compaction fold alike ([[ChainStore.fold]]). */
private[graft] sealed trait Fold
private[graft] object Fold {
  /** Whole-row deltas: a `batch=p` row is live iff p ≥ its key's max
    * tombstone epoch; a key may own many rows (a posting index). */
  case object WholeRow extends Fold
  /** A changelog: after the tombstones, the newest surviving row per
    * key wins ([[ChainStore.resolveLww]]). */
  case object Lww extends Fold
  /** Signed counts: the sum of the count column `n` per the other
    * columns ([[ChainStore.AdditiveSchema]]). Never tombstone-resolved,
    * and zero sums are kept (the chain's algebra is additive; a consumer
    * that drops drained keys does so itself). */
  case object Additive extends Fold
}

/** One chain of a [[ChainStore]], described once; every read, write,
  * gate and compaction takes the chain's layout from here.
  *
  *  - `name` — its dir under the store root, `name/batch=e[/bucket=b]`;
  *  - `schema` — its value columns (the stored columns minus the
  *    partition dirs). Reads are explicit-schema, because a removal-only
  *    epoch can commit a zero-file delta and inference over it fails;
  *  - `bucketBy` — the column whose [[ChainStore.chainBucket]] names the
  *    `bucket=` sub-partition, so probes file-prune; None = unbucketed;
  *  - `fold` — how its deltas resolve ([[Fold]]);
  *  - `commits` — its `_SUCCESS` is part of the epoch's commit gate;
  *  - `snapshot` — a per-epoch full snapshot, not a delta chain: never
  *    resolved or compacted, only pruned ([[ChainStore.pruneSnapshots]]).
  */
private[graft] final case class Chain(name: String, schema: StructType,
                                      bucketBy: Option[String] = None,
                                      fold: Fold = Fold.WholeRow, commits: Boolean = false,
                                      snapshot: Boolean = false)

/** The on-disk chain format: the bucket function, the `batch=` epoch
  * listing, the generation markers, the explicit-schema scans, the
  * tombstone and LWW resolution, and the crash-safe compaction swap
  * with its recovery. Nothing outside this file builds or parses a
  * chain path. */
private[graft] object ChainStore {

  /** Bucket count for hash-bucketed delta-chain stores. 32 here; a
    * 100 TB store raises it so one bucket ≈ a few GB — the pruning
    * ratio at trickle batch sizes is (buckets touched)/(total), so more
    * buckets = finer file skipping, at the cost of more (small) files
    * per epoch, which the in-stream compaction re-merges anyway.
    */
  val ChainBuckets = 32

  /** The ONE bucket function both the write and the probe sides share —
    * a drifted second copy would silently prune AWAY matching files. */
  def chainBucket(key: Column): Column =
    pmod(xxhash64(key), lit(ChainBuckets.toLong)).cast("int")

  /** Distinct store buckets a delta's keys land in — bounded by
    * min(|delta|, [[ChainBuckets]]) values, so the collect is a
    * constant-sized driver hop, never corpus state. */
  def collectBuckets(delta: DataFrame, key: Column): Seq[Int] =
    delta.select(chainBucket(key).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq

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

  /** The numeric `batch=e` entries of `dir` as (e, path), ascending —
    * the ONE listing every epoch-scanning step reads. Names that are not
    * `batch=<long>` (the hidden `_compact_` dirs, `_SUCCESS`, a stray
    * `batch=x`) are skipped; a dir that does not exist lists nothing. A
    * failed listing of an EXISTING dir throws: a skipped prune would let
    * readers see consumed deltas as duplicates (double-counted sums,
    * twice-emitted rows), and a missed tombstone would resurrect retired
    * rows. Failing the caller's epoch is the safe outcome; replay re-runs
    * the recovery before any read. */
  def epochDirs(dir: Path): Seq[(Long, Path)] = {
    val d = dir.toFile
    if (!d.isDirectory) Seq.empty
    else {
      val listed = d.listFiles()
      if (listed == null) throw new IllegalStateException(s"cannot list chain dir $dir")
      listed.toSeq.flatMap { f =>
        val n = f.getName
        if (!n.startsWith("batch=")) None
        else n.stripPrefix("batch=").toLongOption.map(_ -> f.toPath)
      }.sortBy(_._1)
    }
  }

  /** Epochs strictly below `epoch` whose delta dir carries parquet's
    * `_SUCCESS` marker — the listing [[latestCommitted]]'s commit gate
    * starts from. */
  def committedEpochsBelow(dir: String, epoch: Long): Seq[Long] =
    epochDirs(Paths.get(dir)).collect {
      case (e, p) if e < epoch && Files.exists(p.resolve("_SUCCESS")) => e
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

  // ---- generation markers: the durable "gen@epoch" files of
  // [[GenerationalStore]] and the classify loop's per-generation state ----

  /** Atomic tmp+move marker write. */
  def writeGenMarker(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Parse a "gen@epoch" marker; absent file = None. A malformed file
    * fails with the path and raw contents in the message:
    * the write side is atomic tmp+move, so corruption here means
    * external interference — the one place the generational scheme
    * must fail diagnosably rather than throw a bare MatchError deep
    * inside foreachBatch. */
  def readGenMarker(p: Path): Option[(Int, Long)] =
    if (!Files.exists(p)) None
    else {
      val raw = new String(Files.readAllBytes(p), "UTF-8").trim
      raw.split('@') match {
        case Array(g, e) if g.nonEmpty && e.nonEmpty &&
            g.forall(_.isDigit) && e.forall(_.isDigit) =>
          Some((g.toInt, e.toLong))
        case _ => throw new IllegalStateException(
          s"malformed generation marker at $p: '$raw' (expected <gen>@<epoch>)")
      }
    }

  // ---- scans and resolution ----

  /** Guard for explicit-schema chain scans: partition discovery is
    * FILE-driven, so a chain whose committed deltas are all zero-file
    * (reachable since pure-removal head-of-stream epochs commit empty
    * deltas, r12) yields NO `batch`/`bucket` columns and any predicate
    * on them fails analysis. A missing partition column implies zero
    * data files, so adding it to the (necessarily empty) scan is
    * exact — the probe then reads nothing instead of crashing.
    * VERIFIED, not assumed: a scan that holds ROWS yet
    * lacks the column is not a zero-data chain — it's a reader pointed
    * at a populated store written without the expected layout (a
    * pre-bucketing chain, a mis-wired dir), and synthesizing a null
    * column there would turn every probe into a silently-empty read
    * that classifies the whole world as new. That mis-wiring must fail
    * loudly. The emptiness probe keys on ROWS, not files: an empty
    * unbucketed delta write legitimately leaves one zero-row part file
    * behind (only partitioned empty writes are file-less), so the
    * check is a head(1) job — and it runs only on the rare
    * missing-column path. */
  def withChainPartitionCols(scan: DataFrame, cols: String*): DataFrame = {
    val missing = cols.filterNot(scan.columns.contains)
    if (missing.isEmpty) scan
    else {
      if (scan.inputFiles.nonEmpty && !scan.isEmpty)
        throw new IllegalStateException(
          s"chain scan is missing partition column(s) ${missing.mkString(", ")} " +
            "yet holds data rows — populated chain written without the " +
            s"expected partition layout (e.g. ${scan.inputFiles.head})")
      missing.foldLeft(scan)((df, c) =>
        df.withColumn(c, lit(null).cast(if (c == "bucket") "int" else "long")))
    }
  }

  /** Probe-side read of a hash-bucketed `batch=e/bucket=b` delta chain,
    * pruned to epochs ≤ `epoch` AND the given buckets — both partition
    * columns, so the skip happens at FILE level (PartitionFilters in
    * the scan), not per-row: the index-lookup read shape that keeps a
    * recurring probe's bytes proportional to the buckets it touches
    * instead of the whole store (the r10 `stream_ingest_neardup` weak).
    * An empty bucket list reads nothing (empty `In` folds to false).
    * `dataSchema` (the stored columns MINUS the partition dirs), when
    * the caller knows it — and a probe loop does, it WROTE the store —
    * skips per-probe footer inference entirely: no non-matching file is
    * opened even at planning time. The `batch` column is kept: a
    * tombstoned chain's liveness compares row epoch vs tombstone epoch
    * ([[tombstoneResolved]]). */
  def prunedChainRows(spark: SparkSession, dir: String, epoch: Long, buckets: Seq[Int],
                      dataSchema: Option[StructType] = None): DataFrame =
    withChainPartitionCols(
      dataSchema.fold(spark.read)(s => spark.read.schema(s)).parquet(dir),
      "batch", "bucket")
      .filter(col("batch") <= lit(epoch) && col("bucket").isin(buckets: _*))
      .drop("bucket")

  /** Resolve a `batch=<epoch>` changelog chain last-write-wins per
    * `keyCols` — THE merge-on-read reader every LWW chain shares and the
    * resolution the compaction fold materializes, so a reader and the
    * compactor can never drift. Value columns come off the stored
    * schema (a bucketed chain's `bucket` rides along as one), so a sink
    * schema change can never be silently projected away; cost is one
    * partial-agg'd shuffle of scalar rows.
    */
  def resolveLww(chain: DataFrame, keyCols: Seq[String]): DataFrame = {
    val valueCols = chain.columns.filterNot(c => keyCols.contains(c) || c == "batch").toSeq
    chain.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), col("batch")).as("v"))
      .select(keyCols.map(col) ++ valueCols.map(c => col(s"v.$c").as(c)): _*)
  }

  /** The per-key max-tombstone-epoch aggregate of a tombstone chain up
    * to `upTo` — None when the chain has no `batch=` dir (never written,
    * or fully consumed by compaction). A LOOP computes it ONCE per epoch
    * (persist) and shares it across every probe of the batch; each probe
    * re-deriving it would re-read and re-aggregate the chain. Explicit
    * key schema: a chain whose delta dirs are all zero-file would crash
    * schema inference. */
  def tombstoneAggregate(spark: SparkSession, tombstoneDir: String, keyCol: String,
                         upTo: Option[Long]): Option[DataFrame] =
    if (epochDirs(Paths.get(tombstoneDir)).isEmpty) None
    else {
      // partition-col guard: a torn first-ever tombstone write (crash
      // mid-write leaves batch=e with no committed data files) must
      // resolve to an EMPTY aggregate on replay, not fail analysis —
      // the replayed epoch's own overwrite then repairs the dir
      val scan = withChainPartitionCols(
        spark.read.schema(StructType(Seq(StructField(keyCol, LongType)))).parquet(tombstoneDir),
        "batch")
      Some(upTo.fold(scan)(e => scan.filter(col("batch") <= lit(e)))
        .groupBy(col(keyCol)).agg(max(col("batch")).as("tomb_epoch")))
    }

  /** Merge-on-read resolution of a tombstoned delta chain through a
    * [[tombstoneAggregate]]: a `batch=p` row of `rows` (which must still
    * carry the `batch` partition column, already epoch-bounded) is live
    * iff p ≥ its key's max tombstone epoch. The aggregate is delta-sized
    * — re-deliveries and removals only — hence broadcast; the chain scan
    * itself never shuffles. This is the ONE copy of the predicate — the
    * streaming reader and the compaction fold both resolve through it.
    * A bucket-PRUNED scan resolves through it too: pruning selects files,
    * this predicate then decides per-row liveness, and the two compose
    * because tombstones are keyed by doc, independent of which bucket a
    * row lives in. `keyCol` is passed explicitly (not read off the
    * aggregate's column order): an implicit positional contract would
    * let a reshaped aggregate silently join on the wrong column and
    * resurrect tombstoned rows. `keepEpoch = true`
    * retains `batch` — the read shape an LWW chain needs, since
    * [[resolveLww]] then picks the newest survivor per key. */
  def tombstoneResolved(rows: DataFrame, tombAgg: Option[DataFrame], keyCol: String,
                        keepEpoch: Boolean = false): DataFrame =
    tombAgg match {
      case None => if (keepEpoch) rows else rows.drop("batch")
      case Some(t) =>
        val live = rows.join(broadcast(t), Seq(keyCol), "left_outer")
          .filter(col("tomb_epoch").isNull || col("batch") >= col("tomb_epoch"))
        if (keepEpoch) live.drop("tomb_epoch") else live.drop("batch", "tomb_epoch")
    }

  // ---- files: deletion, the compaction swap and its recovery ----

  private def deleteDir(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
    } finally walk.close()
  }

  /** Best-effort delete for cleanup paths: one stubborn file must not
    * abort the remaining cleanup or mask the query's real exception.
    */
  private[streaming] def deleteDirQuietly(dir: Path): Unit =
    if (Files.exists(dir)) // absent dir = nothing to clean, not a failure
      try deleteDir(dir)
      catch { case e: Exception =>
        System.err.println(s"cleanup of $dir failed: ${e.getMessage}")
      }

  // leading underscore: Spark's partition discovery ignores `_`/`.`
  // paths, so a live reader never lists these mid-compaction dirs
  private val CompactTmp = "_compact_tmp"
  private val CompactAside = "_compact_old"
  private val CompactMarker = "_graft_target_epoch"

  /** The crash-safe snapshot swap behind [[ChainStore.fold]]: the
    * snapshot materializes into a hidden tmp dir (forcing the read of
    * every delta it replaces, and keeping a bucketed chain's `bucket=`
    * layout, which the probes' partition pruning keys off) and is
    * stamped with a target-epoch marker last, so marker-present ==
    * snapshot complete. The newest delta is then moved ASIDE (one atomic
    * rename — never deleted while it is the only copy), the snapshot
    * renamed into `batch=maxEpoch`'s place, and only then are the aside
    * copy and the older deltas pruned. Every intermediate state is one
    * [[recoverInterruptedCompaction]] repairs. The snapshot keeps the
    * NEWEST folded epoch's number, so a stream resuming from its
    * checkpoint (next epoch = max + 1) can never collide with it. A
    * reader racing the rename pair can still briefly miss the newest
    * delta (the documented harness caveat); a production deployment
    * commits the same swap through a table format's transaction log
    * (Delta/Iceberg) instead, with identical relational semantics — but
    * no crash point here loses data.
    */
  private def swapIn(chainDir: Path, snapshot: DataFrame, maxEpoch: Long,
                     bucketed: Boolean): Unit = {
    val tmp = chainDir.resolve(CompactTmp)
    val w = snapshot.write
    (if (bucketed) w.partitionBy("bucket") else w).parquet(tmp.toString)
    Files.write(tmp.resolve(CompactMarker),
      maxEpoch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val target = chainDir.resolve(s"batch=$maxEpoch")
    val aside = chainDir.resolve(CompactAside)
    // rename pair: each is atomic, and between them the newest delta
    // still exists (in `aside`) alongside the complete snapshot (`tmp`)
    Files.move(target, aside)
    Files.move(tmp, target)
    deleteDirQuietly(aside)
    // prune ONLY epochs strictly below the snapshot's: deltas ABOVE it
    // (a live loop's in-flight epoch under a prefix-bounded fold) are
    // not consumed by this snapshot and must survive
    pruneDeltasBelow(chainDir, maxEpoch)
  }

  /** Delete every `batch=` entry of `dir` strictly below `epoch` — the
    * consume step of the swap, of the tombstone consumption and of the
    * crash recovery that finishes an interrupted prune. */
  private def pruneDeltasBelow(dir: Path, epoch: Long): Unit =
    epochDirs(dir).foreach { case (e, p) => if (e < epoch) deleteDir(p) }

  /** Repair any state an interrupted swap left behind. The swap writes
    * (snapshot+marker into tmp) → (target renamed to aside) → (tmp
    * renamed to target) → (aside + older deltas pruned), so the possible
    * crash states are exactly:
    *
    *  - tmp without marker: snapshot incomplete, chain untouched →
    *    discard tmp;
    *  - tmp with marker, `batch=<epoch>` present: crash before the
    *    aside rename, chain intact → discard the redundant tmp;
    *  - tmp with marker, `batch=<epoch>` missing: crash between the
    *    renames — tmp is the ONLY complete copy → finish the rename.
    *    (Safe even if the stream resumed meanwhile and appended newer
    *    epochs: the snapshot folds epochs ≤ its marker and sits AT the
    *    marker epoch, so later deltas still win per key.)
    *  - aside without tmp: the swap-in completed (only the tmp→target
    *    rename consumes tmp, so `batch=<epoch>` exists) → aside is a
    *    consumed duplicate, discard it;
    *  - a marker-bearing base beside older deltas: a crash between the
    *    swap-in and the prune. The marker travels INSIDE the swapped
    *    base (nothing removes it; leading underscore, invisible to
    *    Spark), so that base is by construction the complete fold of
    *    every epoch ≤ its value and any older delta is a consumed
    *    duplicate. For an LWW chain those are harmless, but a WHOLE-ROW
    *    chain would emit each pre-fold row twice and an ADDITIVE chain
    *    would double-count — and the next fold would bake the duplicates
    *    into its base permanently. So the sweep prunes below the newest
    *    marker-bearing base: idempotent, safe at any crash point.
    */
  private[streaming] def recoverInterruptedCompaction(chainDir: Path): Unit = {
    val tmp = chainDir.resolve(CompactTmp)
    val marker = tmp.resolve(CompactMarker)
    if (Files.exists(marker)) {
      val epoch = new String(Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      val target = chainDir.resolve(s"batch=$epoch")
      if (!Files.exists(target)) Files.move(tmp, target)
      else deleteDirQuietly(tmp)
    } else deleteDirQuietly(tmp)
    deleteDirQuietly(chainDir.resolve(CompactAside))
    epochDirs(chainDir).collect { case (e, p) if Files.exists(p.resolve(CompactMarker)) => e }
      .maxOption.foreach(pruneDeltasBelow(chainDir, _))
  }

  /** Prune a per-epoch SNAPSHOT chain (the capped loops' hot_shingles /
    * hot_bands dirs): snapshots are not deltas — no resolution to fold,
    * pruning is plain deletion — and exactly the epochs in `keep`
    * survive (see [[ChainStore.pruneSnapshots]]). Deletion is
    * idempotent, so a crash mid-prune just retries. The kept epochs go
    * to the `SnapshotDirs` meter. */
  private def pruneSnapshotChain(dir: String, keep: Set[Long], epoch: Long,
                                 hooks: LoopHooks): Unit = {
    val path = Paths.get(dir)
    if (Files.isDirectory(path)) {
      val snapshots = epochDirs(path)
      snapshots.foreach { case (e, p) => if (!keep.contains(e)) deleteDir(p) }
      hooks.record(LoopHooks.SnapshotDirs, epoch)(snapshots.map(_._1).filter(keep.contains))
    }
  }
}

/** One epoch's retirements: the prior epochs' tombstone aggregate
  * (persisted), the retired keys (removed ∪ re-delivered) and whether
  * there are any. */
private[graft] final case class Retirements(prior: Option[DataFrame], retired: DataFrame,
                                            any: Boolean)

/** The tombstoned delta-chain store behind the ingest loops.
  * [[Events.streamIncrementalClean]] and [[Events.ingestNearDup]] run on
  * it directly, [[GenerationalStore]] builds the ANN and classify loops'
  * generations on it, and the two file-sink loops
  * ([[Events.ingestDedupToFiles]], [[Events.ingestDecontamToFiles]]) land
  * their changelogs in a one-chain LWW store. Layout under `root`:
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
  import ChainStore._

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
    latestCommitted(commits.map(dir), epoch)

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

  /** Chain `c`'s stored rows at epochs ≤ `upTo` (all when None), with
    * `batch` and any `bucket` partition column, unresolved. */
  private def scan(spark: SparkSession, c: Chain, upTo: Option[Long]): DataFrame = {
    val all = withChainPartitionCols(spark.read.schema(c.schema).parquet(dir(c)), "batch")
    upTo.fold(all)(e => all.filter(col("batch") <= lit(e)))
  }

  /** Chain `c`'s stored rows at epochs ≤ `upTo` (all when None),
    * `batch` kept, unresolved. */
  def rows(spark: SparkSession, c: Chain, upTo: Option[Long]): DataFrame =
    scan(spark, c, upTo).drop("bucket")

  /** The live rows of `c` up to `upTo`, resolved through the tombstone
    * aggregate `tombs` (see [[tombstones]]), read from the given buckets
    * only (file-level pruning) when `buckets` is set. An LWW chain's
    * rows keep `batch`, for [[latest]]. */
  def live(spark: SparkSession, c: Chain, upTo: Long, tombs: Option[DataFrame],
           buckets: Option[Seq[Int]] = None): DataFrame =
    tombstoneResolved(
      buckets.fold(rows(spark, c, Some(upTo)))(prunedChainRows(spark, dir(c), upTo, _, Some(c.schema))),
      tombs, keyCol, keepEpoch = c.fold == Fold.Lww)

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
    if (c.fold == Fold.Lww) resolveLww(live, Seq(keyCol)) else live

  /** `c`'s `rows` resolved by its [[Fold]] — the one resolution the
    * consumer read and the compaction fold share. `tombs` is evaluated
    * only for a tombstoned (non-additive) chain. */
  private def folded(c: Chain, rows: DataFrame, tombs: => Option[DataFrame]): DataFrame =
    c.fold match {
      case Fold.Additive =>
        rows.groupBy(rows.columns.filterNot(Set("batch", "n")).toSeq.map(col): _*)
          .agg(sum(col("n")).as("n"))
      case f => latest(c, tombstoneResolved(rows, tombs, keyCol, keepEpoch = f == Fold.Lww))
    }

  /** The consumer's read of `c` up to `upTo`: tombstones first, then
    * LWW where the chain is LWW; an additive chain's per-key sums. */
  def resolved(spark: SparkSession, c: Chain, upTo: Option[Long] = None): DataFrame =
    folded(c, rows(spark, c, upTo), tombstoneAggregate(spark, tombstoneDir, keyCol, upTo))

  /** The per-key max tombstone epoch up to `upTo`, persisted in `scope`
    * (shared by every probe of an epoch); None without tombstones. */
  def tombstones(spark: SparkSession, upTo: Long, scope: EpochScope): Option[DataFrame] =
    tombstoneAggregate(spark, tombstoneDir, keyCol, Some(upTo)).map(scope.persist)

  /** The epoch's retired keys: the removals plus the RE-DELIVERED
    * arrivals, i.e. those the `probe` chain already holds live. One
    * tombstone delta then retracts both kinds' old rows, while the
    * batch's own epoch-e rows survive. Membership reads `probe` pruned
    * to the arrivals' buckets and resolved through the PRIOR tombstones,
    * so a removed-then-re-added key is new whatever the compaction
    * timing. With no `committed` prior state nothing is re-delivered.
    * `arrivalIds` is the arrivals' key column. Both caches are held in
    * `scope`. */
  def retirements(spark: SparkSession, epoch: Long, committed: Boolean, probe: Chain,
                  removals: DataFrame, arrivalIds: DataFrame, scope: EpochScope): Retirements = {
    val prior = tombstones(spark, epoch - 1, scope)
    val redelivered =
      if (!committed) removals.limit(0)
      else arrivalIds.join(
        live(spark, probe, epoch - 1, prior, Some(bucketsOf(probe, arrivalIds)))
          .select(col(keyCol)),
        Seq(keyCol), "left_semi")
    val retired = scope.persist(removals.unionByName(redelivered))
    Retirements(prior, retired, !retired.isEmpty)
  }

  /** The tombstone delta, written only when non-empty (replay
    * recomputes the same set, so the condition is idempotent). */
  def tombstoneWrite(r: Retirements, epoch: Long): Seq[() => Unit] =
    if (!r.any) Seq.empty
    else Seq(() => r.retired.write.mode("overwrite").parquet(s"$tombstoneDir/batch=$epoch"))

  /** The epoch's tombstone aggregate = the PRIOR epochs' aggregate ⊕
    * this batch's retired keys at `epoch` — no second chain read — held
    * in `scope`. The epoch exceeds
    * every prior one, so the per-key max is exact, and a crashed
    * attempt's own-epoch tombstone dir holds the same recomputed set, so
    * leaving it out of `prior` loses nothing on replay. Both arms of the
    * merge end in the per-key groupBy: the aggregate's invariant is one
    * row per key, and a micro-batch carrying duplicate rows for one key
    * would otherwise seed duplicate keys on the first-ever retirement
    * epoch, fanning out every chain row of that key in the left_outer
    * liveness probes downstream. Without retirements it IS `prior`. */
  def epochTombstones(r: Retirements, epoch: Long, scope: EpochScope): Option[DataFrame] =
    if (!r.any) r.prior
    else {
      val ours = r.retired.select(col(keyCol)).withColumn("tomb_epoch", lit(epoch))
      Some(scope.persist(r.prior.fold(ours)(p => p.unionByName(ours))
        .groupBy(col(keyCol))
        .agg(max(col("tomb_epoch")).as("tomb_epoch"))))
    }

  protected def onCadence(epoch: Long, every: Int): Boolean = epoch > 0 && epoch % every.toLong == 0

  /** THE compaction: fold each of `chains` at epochs ≤ `upTo` (all
    * when None) into one base delta at its newest folded epoch, through
    * the crash-safe swap, and then consume the shared tombstones.
    *
    *  - Each chain resolves by its own [[Fold]] ([[folded]], the read
    *    the consumer applies) and is rewritten under its own layout,
    *    read with its own schema. A row keeps its stored `bucket` value.
    *  - Prefix-bounded: a live loop passes its epoch minus one. Folding
    *    the in-flight epoch into the base would let a crash-replay of
    *    that epoch `overwrite` the base dir — the whole chain — with
    *    just its own delta; prefix-bounded, the replayed epoch only ever
    *    overwrites itself.
    *  - Every chain resolving against the tombstones is folded in this
    *    ONE call, and the tombstones are consumed only after every
    *    chain swapped, and only up to the SMALLEST epoch a tombstoned
    *    chain folded to: after its swap every surviving row of that
    *    chain sits at or above it, so a consumed tombstone is a no-op
    *    for it, while a lagging chain's later tombstones survive.
    *    Compacting the chains one by one would consume tombstones a
    *    sibling still needs and resurface its stale rows. Consuming is
    *    housekeeping, safe at any crash point.
    *  - Each chain is first swept by [[recoverInterruptedCompaction]],
    *    and a chain with nothing to fold (all zero-file, or nothing ≤
    *    `upTo`) is left as it is, so folding a folded chain is a no-op.
    */
  def fold(spark: SparkSession, chains: Seq[Chain], upTo: Option[Long]): Unit = {
    lazy val tombs = tombstoneAggregate(spark, tombstoneDir, keyCol, upTo)
    val bases = chains.flatMap { c =>
      val chainDir = Paths.get(dir(c))
      recoverInterruptedCompaction(chainDir)
      val all = scan(spark, c, upTo)
      // partition discovery types `batch` as int or long depending on
      // the epoch values present — accept either; null = nothing to fold
      val top = all.agg(max(col("batch"))).head()
      if (top.isNullAt(0)) None
      else {
        val base = top.getAs[Number](0).longValue()
        swapIn(chainDir, folded(c, all, tombs), base, c.bucketBy.isDefined)
        if (c.fold == Fold.Additive) None else Some(base)
      }
    }
    // tombstones at epochs ≤ the smallest tombstoned base
    bases.minOption.foreach(safe => pruneDeltasBelow(Paths.get(tombstoneDir), safe + 1))
  }

  /** Prune every snapshot chain to this epoch's snapshot and its
    * committed predecessor's: the one a replay of THIS epoch reads if
    * the process dies after the prune but before the stream checkpoint
    * commits (the delta chains survive that window via their folded
    * base, a deleted snapshot would not). The kept epochs go to the
    * `SnapshotDirs` meter. */
  def pruneSnapshots(epoch: Long, hooks: LoopHooks): Unit =
    declared.filter(_.snapshot).foreach(c =>
      pruneSnapshotChain(dir(c), Set(epoch) ++ committedBelow(epoch), epoch, hooks))

  /** In-stream compaction every `hooks.compactEvery` epochs: fold all
    * delta chains below this epoch, then prune the snapshot chains.
    * True when it ran. */
  def compact(spark: SparkSession, epoch: Long, hooks: LoopHooks): Boolean = {
    val due = onCadence(epoch, hooks.compactEvery)
    if (due) {
      fold(spark, deltaChains, Some(epoch - 1))
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
  private def additiveAt(g: Int): Chain = Chain(s"${additive}_g$g", AdditiveSchema, fold = Fold.Additive)

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
                  removals: DataFrame, arrivalIds: DataFrame, scope: EpochScope): Retirements =
    retirements(spark, epoch, committedBefore(commitGen, epoch), primaryAt(commitGen),
      removals, arrivalIds, scope)

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
    * in-flight target chains and the commit and target additive chains,
    * in one [[fold]]. Drained generations retire on the same cadence. */
  def compact(spark: SparkSession, commitGen: Int, epoch: Long, hooks: LoopHooks): Unit =
    if (onCadence(epoch, hooks.compactEvery)) {
      val targetGen = readGenMarker(migrationPath).map(_._1).filter(_ != commitGen)
      def onDisk(c: Chain) = Files.isDirectory(Paths.get(dir(c)))
      fold(spark, (Seq(primaryAt(commitGen), sourceChain) ++ targetGen.map(primaryAt) ++
        (commitGen +: targetGen.toSeq).map(additiveAt)).filter(onDisk), Some(epoch - 1))
      retireDrained(commitGen)
    }

  // ---- migration epoch ----

  /** Run one migration-mode epoch's `body` with its tombstone aggregate
    * (prior ⊕ this epoch's retirements, held in `scope`), a note for the
    * `Migration` meter and a stage lap. */
  def migrationEpoch(spark: SparkSession, epoch: Long, roles: Roles, r: Retirements,
                     hooks: LoopHooks, scope: EpochScope)(body: Migration => Unit): Unit = {
    val m = new Migration(spark, epoch, roles, epochTombstones(r, epoch, scope), hooks)
    body(m)
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
