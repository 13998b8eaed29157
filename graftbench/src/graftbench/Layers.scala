package graftbench

import graft.functions.{BloomProbe, ShingleFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}

import scala.collection.mutable.LinkedHashMap

/** Isolated kernel probes: graft's native shingle/minhash and Bloom
  * expressions over the workload's own corpus, repeated to a fixed row
  * count, cached first so only the kernel is timed, into a noop sink.
  * The Bloom probe is about six times faster per row, so it reads the
  * cached shingle arrays `BloomRepeat` times in the same job to keep
  * per-job overhead small against the kernel. */
object Probes {
  private val Rows = 100000L
  private val BloomRepeat = 8
  private val Reps = 3

  def run(ctx: Ctx, docs: DataFrame): Map[String, Double] = {
    val spark = ctx.spark
    val copies = math.max(1L, math.ceil(Rows.toDouble / docs.count()).toLong)
    val text = spark.range(copies).crossJoin(docs.select("text")).select("text")
      .repartition(ctx.cores).persist()
    val rows = text.count()
    def rowsPerS(name: String, n: Long)(body: => Unit): Double = Stats.medianOf((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span("functions", name)(body)
      n / ((System.nanoTime() - t0) / 1e9)
    })
    val minhash = rowsPerS("minhash_probe", rows) {
      text.select(ShingleFunctions.minhashSig(ShingleFunctions.shingleHashes(col("text"), 3), 128))
        .write.format("noop").mode("overwrite").save()
    }
    val shingled = text.select(ShingleFunctions.shingleHashes(col("text"), 5).as("sh")).persist()
    shingled.count()
    val sample = shingled.sample(0.1, 7L).select(explode(col("sh")).as("s"))
    val bf = sample.stat.bloomFilter("s", math.max(1L, sample.count()), 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val probed =
      try spark.range(BloomRepeat).crossJoin(shingled)
        .select(BloomProbe.anyContain(spark, col("sh"), bfB).as("hit"))
      finally BloomProbe.release(spark, bfB)
    val bloom = rowsPerS("bloom_probe", rows * BloomRepeat) {
      probed.write.format("noop").mode("overwrite").save()
    }
    shingled.unpersist()
    text.unpersist()
    Map("minhash_rows_per_s" -> minhash, "bloom_rows_per_s" -> bloom)
  }
}

/** The traced run's per-layer metrics, derived from the spans of the
  * timed passes (set-up spans for `session.*`, probe spans for
  * `functions.*`). Counts and times are per pass. */
final class LayerMetrics(tracer: Tracer, ctx: Ctx, workload: Workload, passes: Int,
                         probes: Map[String, Double]) {
  private val cores = ctx.cores
  private val attr = new Attribution(tracer, ctx.collector)
  private val timed = tracer.spans.filter(_.pass > 0).toSeq
  private def per(x: Double): Double = x / passes
  private def spans(layer: String, name: String = null): Seq[Span] =
    timed.filter(s => s.layer == layer && (name == null || s.name == name))
  private def seconds(ss: Seq[Span]): Double = per(ss.map(_.seconds).sum)
  private def selfS(layer: String): Double = per(spans(layer).map(tracer.selfSeconds).sum)
  private def failures(ss: Seq[Span]): Double = per(attr.cost(ss).failures)

  /** Operator spans reported one by one; zero on workloads without them. */
  val OperatorSpans = Seq("mj_wordcount", "mj_grep", "mj_hashcheck", "mj_rangesort",
    "dedup_exact", "decontam_bloom", "shuffle_shards")

  def all: Seq[(String, Double, String)] = {
    val setup = tracer.spans.filter(_.pass == 0).toSeq
    val session = Seq(
      ("session.start_s", Stats.medianOf(setup.filter(_.name == "start").map(_.seconds)), "s"),
      ("session.warmup_s", Stats.medianOf(setup.filter(_.name == "warmup").map(_.seconds)), "s"),
      ("session.task_failures", attr.cost(setup.filter(_.layer == "session")).failures.toDouble, "count"))

    val writes = Seq("write", "append", "compact").flatMap(spans("sources", _))
    val stored = workload.storedBytes(ctx)
    val sources = Seq(
      ("sources.read_s", seconds(spans("sources", "read")), "s"),
      ("sources.read_bytes", per(attr.cost(spans("sources", "read")).inputBytes), "bytes"),
      ("sources.write_s", seconds(spans("sources", "write")), "s"),
      ("sources.append_s", seconds(spans("sources", "append")), "s"),
      ("sources.compact_s", seconds(spans("sources", "compact")), "s"),
      ("sources.ls_s", seconds(spans("sources", "ls")), "s"),
      ("sources.files_written", per(ctx.filesWritten), "count"),
      ("sources.bytes_per_input_byte",
        if (stored > 0) per(attr.cost(writes).outputBytes) / stored else 0.0, "ratio"),
      ("sources.self_s", selfS("sources"), "s"),
      ("sources.task_failures", failures(spans("sources")), "count"))

    val probeSpans = tracer.spans.filter(_.layer == "functions").toSeq
    val functions = Seq(
      ("functions.minhash_rows_per_s", probes.getOrElse("minhash_rows_per_s", 0.0), "1/s"),
      ("functions.bloom_rows_per_s", probes.getOrElse("bloom_rows_per_s", 0.0), "1/s"),
      ("functions.task_failures", attr.cost(probeSpans).failures.toDouble, "count"))

    val operators = OperatorSpans.flatMap { name =>
      val ss = spans("operators", name)
      val c = attr.cost(ss)
      val p = s"operators.$name"
      Seq(
        (s"$p.jobs", per(c.jobs), "count"),
        (s"$p.tasks", per(c.tasks), "count"),
        (s"$p.task_s", per(c.taskS), "s"),
        (s"$p.cpu_s", per(c.cpuS), "s"),
        (s"$p.gc_s", per(c.gcS), "s"),
        (s"$p.shuffle_read_bytes", per(c.shuffleReadBytes), "bytes"),
        (s"$p.shuffle_write_bytes", per(c.shuffleWriteBytes), "bytes"),
        (s"$p.spill_bytes", per(c.spillBytes), "bytes"),
        (s"$p.skew", if (ss.isEmpty) 0.0 else c.skew, "ratio"),
        (s"$p.util", if (c.wallS > 0) c.taskS / (c.wallS * cores) else 0.0, "ratio"))
    } ++ Seq(
      ("operators.self_s", selfS("operators"), "s"),
      ("operators.task_failures", failures(spans("operators")), "count"))

    val loops = spans("streaming")
    val lc = attr.cost(loops)
    val epochs = ctx.collector.progress.filter(p =>
      p.rows > 0 && loops.exists(s => s.startMs <= p.timeMs && p.timeMs <= s.endMs)).toSeq
    def lap(prefix: String) = per(ctx.laps.filter(_._1.startsWith(prefix)).map(_._2).sum)
    val streaming = Seq(
      ("streaming.epochs", per(epochs.size), "count"),
      ("streaming.epoch_s", if (epochs.isEmpty) 0.0 else Stats.medianOf(epochs.map(_.batchMs / 1e3)), "s"),
      ("streaming.jobs_per_epoch", if (epochs.isEmpty) 0.0 else lc.jobs.toDouble / epochs.size, "count"),
      ("streaming.mean_job_ms", if (lc.jobMs.isEmpty) 0.0 else lc.jobMs.sum / lc.jobMs.size, "ms"),
      ("streaming.sched_delay_s", per(lc.schedDelayS), "s"),
      ("streaming.util", if (lc.wallS > 0) lc.taskS / (lc.wallS * cores) else 0.0, "ratio"),
      ("streaming.laps_stage_s", lap("stage"), "s"),
      ("streaming.laps_drain_s", lap("drain"), "s"),
      ("streaming.laps_consumer_s", lap("consumer"), "s"),
      ("streaming.self_s", selfS("streaming"), "s"),
      ("streaming.task_failures", failures(loops), "count"))

    val passSpans = timed.filter(_.name == "pass")
    val trace = Seq(
      ("trace.pass_s", Stats.medianOf(passSpans.map(_.seconds)), "s"),
      ("trace.spans", per(timed.size), "count"))

    session ++ sources ++ functions ++ operators ++ streaming ++ trace
  }

  /** Every span with its self time and attributed job/task cost. */
  def spanRecords: Seq[LinkedHashMap[String, Any]] = tracer.spans.toSeq.map { s =>
    val c = attr.cost(Seq(s))
    LinkedHashMap("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "run_id" -> tracer.runId, "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.seconds, "self_s" -> tracer.selfSeconds(s), "jobs" -> c.jobs,
      "tasks" -> c.tasks, "task_s" -> c.taskS)
  }
}
