package graftbench

import graft.GraftSession
import graft.sources.Sdfs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Everything a workload's operations need, plus the op/check bookkeeping
  * that feeds `attempted`, `failed` and the latency samples. */
final class Ctx(val work: String, val cores: Int, val tracer: Tracer, corrupt: Option[String]) {
  var spark: SparkSession = _
  var sdfs: Sdfs = _
  var collector: Collector = _
  var timed = false
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  val opSeconds = ArrayBuffer.empty[Double]
  var filesWritten = 0L
  /** Data files the sources layer wrote, counted in timed passes only. */
  def addFiles(n: Long): Unit = if (timed) filesWritten += n
  val laps = ArrayBuffer.empty[(String, Double)]

  /** Time one call into `layer`, check its output, count it. The latency
    * sample is taken only in timed passes and only when `sample`. */
  def op[T](layer: String, name: String, sample: Boolean = true)(run: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(layer, name)(run))
      catch { case NonFatal(e) => note(name, e); None }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sample && timed) opSeconds += dt
    val ok = out.exists(v =>
      try check(v) catch { case NonFatal(e) => note(name, e); false })
    if (!ok) { failed += 1; failures += s"${if (timed) "pass" else "warmup"}:$name" }
    out
  }

  /** One streaming loop run: an op whose latency samples are its epochs,
    * taken from the progress events every micro-batch posts. */
  def loop[T](name: String)(run: => T)(check: T => Boolean): Option[T] = {
    val from = collector.progressCount
    if (tracer.enabled) graft.Laps.begin()
    val out = op("streaming", name, sample = false)(run)(check)
    if (tracer.enabled) {
      val marks = graft.Laps.end()
      if (timed) laps ++= marks
    }
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    if (timed) opSeconds ++= collector.epochSecondsSince(from)
    out
  }

  /** The negative test's hook: damage `name`'s output before its check. */
  def tamper[T](name: String, v: T)(f: T => T): T = if (corrupt.contains(name)) f(v) else v

  private def note(name: String, e: Throwable): Unit =
    System.err.println(s"[graftbench] $name failed: ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).take(300))
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        size: Double, corrupt: Option[String], work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      m.get("size").map(_.toDouble).getOrElse(1.0), m.get("corrupt"), req("work"), req("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val record = new Runner(a).run()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(a.out), record)
  }
}

/** Set-up, timed passes, canaries, probes and the record, for one run. */
final class Runner(a: Main.Args) {
  private val workload = Workloads(a.workload, a.seed, a.size)
  private val machineCores = Runtime.getRuntime.availableProcessors()
  private val cores = workload.slots(machineCores)
  private val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
  private val ctx = new Ctx(a.work, cores, tracer, a.corrupt)

  /** The bench suite's fixed pure-CPU canary: a parallel xor-sum over a
    * range, constant work by construction, so its time is machine speed. */
  private def canary(): Double = {
    val t0 = System.nanoTime()
    ctx.spark.range(0, 100000000L, 1, 32)
      .select(sum(col("id").bitwiseXOR(2654435761L)).as("x"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Live heap after a full collection, summed over the heap pools: what
    * the session retains between passes. Spark frees the blocks of
    * broadcasts and shuffles only after a GC has found their handles
    * unreachable, on its cleaner thread, so the second collection, after
    * the cleaner has run, is the one that sees them gone. With one, the
    * base before the window read up to 35 MB high on some seeds. */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def run(): LinkedHashMap[String, Any] = {
    // set-up, from JVM start to ready: session, inputs, untimed warm-up
    ctx.spark = tracer.span("session", "start")(GraftSession.local(cores.toString))
    ctx.sdfs = new Sdfs(ctx.spark)
    ctx.collector = new Collector(a.trace)
    ctx.spark.sparkContext.addSparkListener(ctx.collector)
    tracer.span("setup", "inputs")(workload.prepare(ctx))
    tracer.span("session", "warmup")(workload.warmup(ctx))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
    val canaryBefore = canary()

    // timed window: whole passes until `seconds` have elapsed and at least
    // the workload's minimum have run
    val passSeconds = ArrayBuffer.empty[Double]
    val passCpu = ArrayBuffer.empty[Double]
    val retained = ArrayBuffer.empty[Double]
    val heapPeak = new HeapPeak((retainedHeapMb() * 1048576).toLong)
    ctx.timed = true
    heapPeak.armed = true
    val window0 = System.nanoTime()
    while (passSeconds.size < workload.minPasses || (System.nanoTime() - window0) / 1e9 < a.seconds) {
      tracer.pass = passSeconds.size + 1
      val cpu0 = ctx.collector.cpuNs
      val t0 = System.nanoTime()
      tracer.span("bench", "pass")(workload.pass(ctx))
      passSeconds += (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
      passCpu += (ctx.collector.cpuNs - cpu0) / 1e9
      retained += retainedHeapMb()
    }
    ctx.timed = false
    heapPeak.close()
    tracer.pass = 0
    val canaryAfter = canary()

    val probes = if (a.trace) Probes.run(ctx, workload.corpusFrame(ctx)) else Map.empty[String, Double]
    org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)

    val metrics = LinkedHashMap.empty[String, Any]
    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = LinkedHashMap("value" -> value, "unit" -> unit)
    val detail = LinkedHashMap.empty[String, Any]
    if (!a.trace) {
      metric("setup_s", setupS, "s")
      metric("pass_s", Stats.medianOf(passSeconds), "s")
      metric("op_p50_s", Stats.medianOf(ctx.opSeconds), "s")
      metric("pass_cpu_s", Stats.medianOf(passCpu), "s")
      metric("peak_heap_mb", heapPeak.mb, "MB")
      metric("ok_ratio", 1.0 - ctx.failed.toDouble / ctx.attempted, "ratio")
    } else {
      val layer = new LayerMetrics(tracer, ctx, workload, passSeconds.size, probes)
      layer.all.foreach { case (n, v, u) => metric(n, v, u) }
      detail("spans") = layer.spanRecords
    }
    detail("fail_ratio") = ctx.failed.toDouble / ctx.attempted
    detail("failures") = ctx.failures.toSeq
    detail("pass_s_each") = passSeconds.toSeq
    detail("op_samples") = ctx.opSeconds.size
    detail("op_s_each") = ctx.opSeconds.toSeq
    detail("pass_cpu_s_each") = passCpu.toSeq
    detail("heap_live_mb_each_gc") = heapPeak.liveMb
    detail("heap_live_max_mb") = heapPeak.maxMb
    detail("heap_after_gc_raw_max_mb") = heapPeak.rawMb
    detail("retained_heap_mb_each") = retained.toSeq
    detail("canary_s") = LinkedHashMap("before" -> canaryBefore, "after" -> canaryAfter)
    detail("inputs") = workload.inputs(ctx).map { case (n, rows, bytes) =>
      LinkedHashMap("name" -> n, "rows" -> rows, "bytes" -> bytes) }
    detail("stored_bytes") = workload.storedBytes(ctx)
    detail("cores") = cores
    detail("machine_cores") = machineCores
    ctx.spark.stop()

    LinkedHashMap(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics,
      "detail" -> (LinkedHashMap[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "size" -> a.size, "trace" -> a.trace,
        "run_id" -> tracer.runId) ++ detail))
  }
}

/** The live heap at each collection that ends while `armed`, read from
  * the collectors' notifications: the same after-GC pool usage that
  * `MemoryPoolMXBean.getCollectionUsage` reports, taken at every GC of the
  * timed window, so a larger working set inside a pass shows even though
  * each pass ends with its data freed.
  *
  * A full collection leaves only live objects, so its reading is the heap
  * in use after it, and it becomes the base. A young collection leaves the
  * old generation holding whatever was promoted earlier, dead or not, so its
  * raw total climbs until the collector's next old-generation cycle and
  * reads its scheduling more than the program. Its live heap is taken as
  * the base plus what that collection kept: the survivors and the objects
  * it promoted.
  *
  * `mb` is the 90th percentile of the readings (nearest rank), so the
  * timing of one GC against a burst of short-lived data does not decide
  * it; `maxMb` keeps the maximum and `rawMb` the highest raw after-GC
  * total. */
final class HeapPeak(baseBytes: Long) {
  @volatile var armed = false
  private var base = baseBytes
  private val readings = ArrayBuffer.empty[Long]
  private var rawBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.filter { case (p, _) => heapPools(p) }
        val total = after.values.map(_.getUsed).sum
        val full = info.getGcAction.contains("major")
        HeapPeak.this.synchronized {
          val live =
            if (full) { base = total; total }
            else base + after.collect {
              case (p, u) if p.contains("Survivor") => u.getUsed
              case (p, u) if p.contains("Old") || p.contains("Tenured") =>
                math.max(0L, u.getUsed - before.get(p).map(_.getUsed).getOrElse(u.getUsed))
            }.sum
          if (armed) {
            readings += live
            rawBytes = math.max(rawBytes, total)
          }
        }
      }
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  private def mbOf(bytes: Long): Double = bytes / 1048576.0
  /** Live-heap readings in MB, in GC order; the starting base when no GC ran. */
  def liveMb: Seq[Double] = synchronized(if (readings.isEmpty) Seq(baseBytes) else readings.toSeq).map(mbOf)
  def mb: Double = {
    val sorted = liveMb.sorted
    sorted(math.ceil(0.9 * sorted.length).toInt - 1)
  }
  def maxMb: Double = liveMb.max
  def rawMb: Double = mbOf(synchronized(rawBytes))
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
