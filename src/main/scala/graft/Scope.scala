package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The owner of every frame main code releases: the one place a frame
  * is eagerly checkpointed ([[checkpoint]], `localCheckpoint(true)`) or
  * released. (A lazy `.persist()` a one-shot query's result reads and
  * nothing releases stays outside, left to the ContextCleaner.) A
  * frame is registered where it is made — [[persist]], [[checkpoint]] —
  * and released by the scope, in reverse order, when the scope ends: a
  * persisted frame with `unpersist(blocking = false)`,
  * a checkpoint by unpersisting its RDD. `Dataset.unpersist` cannot
  * release a checkpoint (its blocks are RDD-level cache, not a
  * CacheManager entry), and the ContextCleaner reclaims one only on a
  * driver GC — with driver heaps sized for 100 TB coordination that can
  * be never. Spark WARNs that the truncated lineage can't recompute
  * after the release; the frame is never read again, and GraftSession
  * quiets that one logger.
  *
  * Scopes nest. [[around]] runs a body in a child scope: if the body
  * throws, the child releases everything it holds, so a failed attempt
  * pins nothing; if it returns, the child releases its held frames and
  * hands the ones marked [[keep]] (the frames the body's lazy result
  * reads) to its parent, still kept. The roots decide where kept frames
  * end up:
  *
  *  - [[Scope.around]] releases everything when its body returns or
  *    throws — a streaming epoch, a soak gate, a spec, a call's own
  *    intermediates, or a `_check` query's shared passes
  *    ([[Tables.verdict]] collects the bounded verdict inside it);
  *  - [[Scope.session]] releases nothing and keeps no reference, so a
  *    one-shot query's kept frames stay readable and the ContextCleaner
  *    reclaims them once the result is gone.
  *
  * Rolling rounds (the CC label rounds, BPE shapes, closure frontiers)
  * drop a superseded frame with [[release]], so they hold O(1) copies.
  * Every eager materialization in main is a [[checkpoint]], so its blocks
  * live on the executor that computed them: losing that executor loses
  * them (SURVEY §5).
  */
final class Scope private (private val parent: Option[Scope], private val tracks: Boolean) {
  import Scope.Frame
  private var frames: List[Frame] = Nil
  private var after: List[() => Unit] = Nil

  private def hold[T <: AnyRef](of: T, drop: () => Unit): T = {
    if (tracks) frames ::= new Frame(of, drop)
    of
  }

  /** `df.persist()`, released with the scope. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    hold(p, () => p.unpersist(blocking = false))
  }

  /** `rdd.persist(level)`, released with the scope. */
  def persist[T](rdd: RDD[T], level: StorageLevel): RDD[T] = {
    val p = rdd.persist(level)
    hold(p, () => p.unpersist(blocking = false))
  }

  /** `df.localCheckpoint(true)`, released with the scope. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    hold(c, () => Scope.unpersistCheckpoint(c))
  }

  /** Mark a frame this scope holds as read by the lazy result of the
    * body it runs: it outlives [[around]]'s return. */
  def keep(df: DataFrame): DataFrame = {
    frames.find(_.of eq df).foreach(_.kept = true)
    df
  }

  /** Drop `df`, a frame this scope holds, now: it leaves the scope, so
    * it is released once. */
  def release(df: DataFrame): Unit = {
    val f = frames.find(_.of eq df)
    require(f.isDefined, "Scope.release: the frame is not held by this scope")
    frames = frames.filterNot(_ eq f.get)
    f.get.drop()
  }

  /** Run `body` in a child scope (see the class doc). */
  def around[T](body: Scope => T): T = Scope.run(new Scope(Some(this), tracks = true), body)

  /** Run `f` once the scope's held frames are released, if its body
    * returned: an epoch's housekeeping that reads only the store
    * (compaction, the meters, the end-of-epoch crash point) plans against
    * no epoch cache. On [[Scope.session]], which releases nothing, `f`
    * runs at once. */
  def afterRelease(f: => Unit): Unit = if (tracks) after :+= (() => f) else f

  private def adopt(kept: List[Frame]): Unit = if (tracks) frames = kept ++ frames
}

object Scope {
  private final class Frame(val of: AnyRef, val drop: () => Unit) { var kept = false }

  /** The root that releases nothing (see the class doc). */
  val session: Scope = new Scope(None, tracks = false)

  /** Run `body` in a root scope that releases every frame it holds when
    * `body` returns or throws; then run its [[Scope.afterRelease]] work. */
  def around[T](body: Scope => T): T = run(new Scope(None, tracks = true), body)

  private def run[T](scope: Scope, body: Scope => T): T = {
    val out =
      try body(scope)
      catch { case t: Throwable => scope.frames.foreach(_.drop()); throw t }
    val (kept, held) = scope.frames.partition(f => f.kept && scope.parent.isDefined)
    held.foreach(_.drop())
    scope.parent.foreach(_.adopt(kept))
    scope.after.foreach(_())
    out
  }

  private def unpersistCheckpoint(c: DataFrame): Unit = c.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
  }
}
