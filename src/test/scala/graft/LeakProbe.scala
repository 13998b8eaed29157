package graft

/** Scratch diagnostic (not a spec): run the stateful ingest loops with
  * the GC-driven ContextCleaner DISABLED, so any missed release shows
  * up deterministically instead of being papered over by a driver GC.
  */
object LeakProbe {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.cleaner.referenceTracking", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.registerFunctions(spark)
    val sf = "/root/testdata/sf0.001"
    def leakReport(tag: String)(run: => Unit): Unit = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      run
      Thread.sleep(2000)
      val leaked = sc.getPersistentRDDs.keySet -- before
      println(s"### $tag leaked=${leaked.size}")
      leaked.toSeq.sorted.foreach { id =>
        sc.getPersistentRDDs.get(id).foreach(r => println(s"###   $id -> $r"))
      }
    }
    leakReport("ingest_classify") {
      graft.streaming.Events.ingestClassify(spark, sf).collect()
    }
    leakReport("stream_incremental_clean") {
      graft.streaming.Events.streamIncrementalClean(spark, sf).collect()
    }
    leakReport("ingest_neardup") {
      graft.streaming.Events.ingestNearDup(spark, sf).collect()
    }
    leakReport("ingest_ann") {
      graft.streaming.Events.ingestAnnIvf(spark, sf).collect()
    }
    // the two migrate stagings: trip, background chunks, cutover
    leakReport("ingest_ann_migrate") {
      graft.streaming.Events.ingestAnnIvf(spark, sf,
        driftMaxCellShare = Some(graft.streaming.Events.DriftMaxCellShareDefault),
        driftWaveArrival2 = true).collect()
    }
    leakReport("ingest_classify_migrate") {
      graft.streaming.Events.ingestClassify(spark, sf,
        driftPosRateJump = Some(graft.streaming.Events.DriftPosRateJumpDefault),
        labelShiftArrival2 = true).collect()
    }
    spark.stop()
  }
}
