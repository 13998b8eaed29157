package graft.tools
import graft._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, sum}
import scala.jdk.CollectionConverters._

/** Per-query scheduling-vs-compute profile (optimization-round
  * measurement, guide §1/§7): runs one declared query under a listener
  * and prints #jobs, #stages, #tasks, summed executor task time, summed
  * shuffle bytes, and the wall clock — so a hot loop can be attributed
  * to "real compute" (task-time ≈ wall × cores) vs "driver round-trips /
  * per-job latency" (many small jobs, task-time ≪ wall × cores). Each
  * query is preceded by a timed `CANARY` line and followed by its
  * per-call-site job census (`SITE` lines); each job's end is logged at
  * DEBUG. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.JobProfile <query> [query...]
  */
object JobProfile {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def main(args: Array[String]): Unit = {
    val unknown = args.toSet -- SparkEntry.queries.keySet
    if (args.isEmpty || unknown.nonEmpty) {
      System.err.println(s"usage: JobProfile <query...>; unknown: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    // per-job call-site census — job count by the action's origin line,
    // the data that says WHICH calls spawn a loop's hundreds of tiny
    // jobs. The DEBUG line per job END chronologically interleaves
    // with the loops' own [incr-debug] stage marks, which is what
    // attributes job counts to stages when every foreachBatch job
    // shares one call site.
    val sites = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val jobStartNanos = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobStartNanos.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStartNanos.remove(e.jobId)).foreach { case (t0, site) =>
          val d = System.nanoTime() - t0
          sites.merge(site, (1L, d),
            (a, b) => (a._1 + b._1, a._2 + b._2))
          log.debug(f"[job-trace] job=${e.jobId} ${d / 1e6}%.0fms")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    for (name <- args) {
      // time Bench's pure-CPU canary (the 100M-row xor-sum noop)
      // immediately before each profiled query, so two profiles can be
      // canary-matched like the full bench. Runs BEFORE the listener
      // attaches — the census stays the query's.
      val c0 = System.nanoTime()
      spark.range(0, 100000000L, 1, 32)
        .select(sum(col("id").bitwiseXOR(2654435761L)).as("x"))
        .write.format("noop").mode("overwrite").save()
      println(f"CANARY $name ${(System.nanoTime() - c0) / 1e9}%.3f")
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0)
      shuffleRead.set(0); shuffleWrite.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener-bus stragglers before reading the counters
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      println(f"PROFILE $name wall=$wall%.2fs jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} taskTime=${taskNanos.get / 1e9}%.1fs " +
        f"shufRead=${shuffleRead.get / 1e6}%.1fMB shufWrite=${shuffleWrite.get / 1e6}%.1fMB " +
        f"meanJob=${wall / math.max(1, jobs.get) * 1000}%.0fms")
      sites.asScala.toSeq.sortBy(-_._2._2).take(40).foreach { case (s, (n, d)) =>
        println(f"  SITE n=$n%4d total=${d / 1e9}%7.2fs  $s")
      }
      sites.clear(); jobStartNanos.clear()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
