package graft.streaming

import scala.collection.mutable

/** The spec hooks of the streaming loops, in one value: the loops'
  * signatures carry their production options and this, nothing else.
  *
  *  - `meters` — the [[LoopHooks.Meter]]s the caller asks for. A loop
  *    records one through [[record]], whose value block runs only when
  *    that meter was asked for, so a run with [[LoopHooks.none]] runs no
  *    meter job;
  *  - `crash` — one injected crash point (epoch and stage). The loop
  *    throws there once per run, and its drain restarts the stream on
  *    the same checkpoint, so the epoch replays over the store it had
  *    already written;
  *  - `compactEvery` — the in-stream compaction cadence, in epochs;
  *  - `tamper` — runs at the start of every epoch with the store dir:
  *    external interference with the durable store.
  */
final class LoopHooks(val meters: Set[LoopHooks.Meter[_, _]] = Set.empty,
                      val crash: Option[LoopHooks.Crash] = None,
                      val compactEvery: Int = 8,
                      val tamper: (Long, java.nio.file.Path) => Unit = (_, _) => ()) {
  private val recorded = mutable.Map.empty[LoopHooks.Meter[_, _], mutable.LinkedHashMap[Any, Any]]

  def wants(m: LoopHooks.Meter[_, _]): Boolean = meters(m)

  /** Record `value` under `key` when `m` was asked for. A replayed epoch
    * records its key again, and the new entry replaces the old one in
    * place, so no entry is ever recorded twice. */
  def record[K, V](m: LoopHooks.Meter[K, V], key: K)(value: => V): Unit =
    if (wants(m)) {
      val v = value
      synchronized { recorded.getOrElseUpdate(m, mutable.LinkedHashMap.empty)(key) = v }
    }

  /** Meter `m`'s entries, in the order their keys were first recorded. */
  def apply[K, V](m: LoopHooks.Meter[K, V]): Seq[(K, V)] =
    synchronized(recorded.get(m).toSeq.flatMap(_.toSeq)).asInstanceOf[Seq[(K, V)]]

  /** This loop run's crash point, armed once. */
  private[graft] def crashPoint: CrashPoint = new CrashPoint(crash)
}

object LoopHooks {
  /** No meters, no crash, the default cadence, no tamper. */
  val none: LoopHooks = new LoopHooks()

  /** A per-epoch measurement a loop records for its caller: value `V`
    * under key `K`. Extra jobs a meter needs run only when it is asked
    * for; they are never part of the loop's own work. */
  sealed abstract class Meter[K, V]
  /** Rows of the epoch's output delta: the sink delta of the dedup and
    * decontam file loops, the verdict delta of
    * [[Events.ingestNearDup]], the assignment delta of
    * [[Events.ingestAnnIvf]]. The per-batch write amplification a
    * deployment monitors. */
  case object DeltaRows extends Meter[Long, Long]
  /** (rows, pred-positive rows) of [[Events.ingestClassify]]'s score
    * delta: the positive-rate drift alarm a frozen filter re-trains on. */
  case object ScoreDelta extends Meter[Long, (Long, Long)]
  /** Rows of [[Events.streamIncrementalClean]]'s arrival batch. */
  case object BatchRows extends Meter[Long, Long]
  /** Rows of [[Events.streamIncrementalClean]]'s ledger delta: proves
    * the per-epoch ledger write is blast-radius-sized, not corpus-sized. */
  case object LedgerDeltaRows extends Meter[Long, Long]
  /** (requested ids, chain rows entering LWW) of
    * [[Events.ingestNearDup]]'s prior-verdict fetch. A retirement epoch
    * fetches once, for the candidate ids ∪ the retirement blast radius's
    * touched ids, and records that one fetch, so its counts are at most
    * the sum of two per-leg fetches. */
  case object PriorFetch extends Meter[Long, (Long, Long)]
  /** (up-crossings, down-crossings) of capped [[Events.ingestNearDup]]'s
    * band-bucket cap, counted in one agg job. */
  case object CapCrossings extends Meter[Long, (Long, Long)]
  /** The snapshot epochs a capped loop's compaction prune keeps. */
  case object SnapshotDirs extends Meter[Long, Seq[Long]]
  /** [[Events.ingestAnnIvf]]'s running per-cell occupancy, summed off
    * the stats chain (cells with n > 0): the drift monitor. */
  case object CellStats extends Meter[Long, Seq[(Int, Long)]]
  /** Stats-chain rows the occupancy sum reads: proves the drift monitor
    * never reads corpus-width state. */
  case object CellStatsInput extends Meter[Long, Long]
  /** A migrating loop's note for the epoch: trip, training, chunk,
    * completeness gate, cutover. */
  case object Migration extends Meter[Long, String]
  /** Rows entering a completeness-gate sum, keyed (epoch, generation):
    * proves the gate reads the additive chains, never the corpus. */
  case object GateInput extends Meter[(Long, Int), Long]
  /** The generations whose primary chain survives the epoch's
    * compaction (a dir listing, no job): the drained-generation
    * retirement meter. */
  case object Generations extends Meter[Long, Seq[Int]]

  /** Where in an epoch a [[Crash]] fires. */
  sealed abstract class Stage
  /** The loop's end-of-epoch point, its worst replay state (each loop's
    * doc names where it sits). */
  case object EpochEnd extends Stage
  /** Right after the epoch's concurrent non-committing store group,
    * before anything reads it back and before the committing write. */
  case object AfterStores extends Stage

  final case class Crash(epoch: Long, stage: Stage = EpochEnd)
}

/** Marker type for an injected crash: the one signal the loops' drain
  * restarts on. A message-matched RuntimeException would couple the
  * throw sites to a magic substring. */
private[streaming] final class InjectedCrash(msg: String) extends RuntimeException(msg)

/** A loop run's crash point: `fire` throws an [[InjectedCrash]] the
  * first time it is reached at the configured epoch and stage with
  * `when` holding, and never again, so the replay of that epoch after
  * the restart runs through. */
private[graft] final class CrashPoint(at: Option[LoopHooks.Crash]) {
  @volatile private var armed = at.isDefined
  def configured: Boolean = at.isDefined
  def fire(epoch: Long, stage: LoopHooks.Stage, where: String, when: Boolean = true): Unit =
    if (armed && when && at.contains(LoopHooks.Crash(epoch, stage))) {
      armed = false
      throw new InjectedCrash(s"injected $where crash at epoch $epoch")
    }
}
