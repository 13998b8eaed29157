package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The frames one epoch of a streaming loop holds. Each is registered
  * where it is made — [[persist]], [[checkpoint]], a checkpoint an
  * operator hands back ([[adopt]], [[ckptOut]]) or the store's own
  * per-epoch caches ([[ChainStore.tombstones]],
  * [[ChainStore.retirements]], [[ChainStore.epochTombstones]]) — and
  * [[EpochScope.around]] releases them all, in reverse order, when the
  * epoch's body returns or throws ([[InjectedCrash]] included): a
  * persisted frame with `unpersist(blocking = false)`, a checkpoint with
  * [[graft.operators.Corpus.releaseCheckpoint]].
  *
  * Frames are held to the epoch's end, not to their last reader: the
  * neardup loop keeps `batchBands` past the candidate checkpoint, the
  * df `shift` past `touched`, `touchIds` past `recomputeIds` and the
  * recompute's `cand2`, `affSh` and `affBands` past it; the capped
  * clean loop keeps the predecessor's tombstone aggregate past the
  * ledger update; the classify migration keeps `commitDelta` and the
  * target's scored delta past their last writes. Every one is
  * batch-sized or blast-radius-sized, so an epoch's resident state stays
  * O(batch + blast radius). Work registered with [[afterRelease]] runs
  * after the release, so its store reads never pick up a frame the
  * epoch still has cached.
  */
private[graft] final class EpochScope {
  private var held: List[() => Unit] = Nil

  private def hold(df: DataFrame, release: DataFrame => Unit): DataFrame = {
    held ::= (() => release(df))
    df
  }

  /** `df.persist()`, released at the epoch's end. */
  def persist(df: DataFrame): DataFrame = hold(df.persist(), _.unpersist(blocking = false))

  /** `df.localCheckpoint(true)`, released at the epoch's end. */
  def checkpoint(df: DataFrame): DataFrame = adopt(df.localCheckpoint(true))

  /** A checkpoint made elsewhere (an operator's result), released at the
    * epoch's end. */
  def adopt(ckpt: DataFrame): DataFrame = hold(ckpt, graft.operators.Corpus.releaseCheckpoint)

  /** An operator's `ckptOut`: every checkpoint it appends is adopted. */
  val ckptOut: Option[mutable.Buffer[DataFrame]] = Some(new mutable.ArrayBuffer[DataFrame] {
    override def addOne(ckpt: DataFrame): this.type = { adopt(ckpt); this }
  })

  private var after: List[() => Unit] = Nil

  /** Run `f` once the epoch's frames are released, if its body returned:
    * the epoch's housekeeping that reads only the store (compaction, the
    * meters, the end-of-epoch crash point) plans against no epoch cache. */
  def afterRelease(f: => Unit): Unit = after :+= (() => f)

  private def release(): Unit = held.foreach(_())
}

private[graft] object EpochScope {
  /** Run `body` with a fresh scope and release the scope afterwards,
    * whatever `body` returns or throws; then run its [[afterRelease]]
    * work. */
  def around[T](body: EpochScope => T): T = {
    val scope = new EpochScope
    val out = try body(scope) finally scope.release()
    scope.after.foreach(_())
    out
  }
}

/** One epoch of a streaming loop, as the harness hands it to the loop's
  * body: the micro-batch's session, the epoch number and the epoch's
  * release scope. */
private[streaming] final case class Epoch(ss: SparkSession, n: Long, scope: EpochScope)
