package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify / Bench / tests share one
  * scale-aware configuration.
  */
object GraftSession {

  /** Apply graft's standard config to a builder. `cpus` sizes local
    * shuffle parallelism; on a real cluster AQE coalesces post-shuffle
    * partitions so a larger initial number is safe.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    configureCommon(b)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")

  /** Cluster-mode builder: same engine config minus the local-only knobs.
    * Master/deploy come from spark-submit; shuffle partitions are left to
    * the cluster default + AQE coalescing (set them per-job when the
    * fact-table size is known). Call this (or [[registerFunctions]] on an
    * existing session) before using graft's native functions.
    */
  def cluster(appName: String = "graft"): SparkSession = {
    val s = configureCommon(SparkSession.builder().appName(appName)).getOrCreate()
    registerFunctions(s)
    s
  }

  /** One resolver for every state-store knob (the env var here, the JVM
    * property in the streaming harness) — both accept `rocksdb` or a
    * full provider class name.
    */
  private[graft] def resolveStateStoreProvider(v: String): String = v match {
    case "rocksdb" =>
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    case full => full
  }

  /** Streaming state-store backend, opt-in via SPARK_GRAFT_STATE_STORE:
    * `rocksdb` (or a full provider class name) swaps the default
    * HDFS-backed in-memory store for RocksDB. The in-memory store holds
    * every key of every state partition on-heap — at 100 TB-pipeline
    * keyspaces (billions of dedup keys, sessions) that's the first thing
    * a deployment replaces; RocksDB keeps working-set state off-heap and
    * spills to local SSD with changelog checkpointing. Benchmarks at the
    * test scale favor the in-memory store, which is why it stays the
    * default.
    */
  private def stateStoreProvider: Option[String] =
    sys.env.get("SPARK_GRAFT_STATE_STORE").map(resolveStateStoreProvider)

  private def configureCommon(b: SparkSession.Builder): SparkSession.Builder = {
    stateStoreProvider.foreach(p =>
      b.config("spark.sql.streaming.stateStore.providerClass", p))
    b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS); Spark only reads it as long
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Driver-regenerated events.parquet (pandas/pyarrow) writes plain
    // timestamp[us] with no UTC flag, which Spark ≥3.4 would infer as
    // TIMESTAMP_NTZ — a type withWatermark and unix_micros reject. With
    // the session timezone pinned to UTC above, reading it as ordinary
    // TimestampType is the identity interpretation; disable the
    // inference so every vintage of the testdata yields the same type.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.parquet.filterPushdown", "true")
    // InferFiltersFromGenerate duplicates the generator expression into a
    // pushed-down size()>0 / isnotnull filter — for expensive array
    // builders (shingling, banding) that re-evaluates the whole
    // interpreted chain up to 3x per row (measured 3x slowdown on dedup
    // ops). The inferred filters only prune rows explode would drop
    // anyway; skip the rule.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The CC loops deterministically unpersist superseded localCheckpoint
    // frames (Corpus.releaseCheckpoint); Spark WARNs on every such
    // unpersist that the truncated lineage can't recompute — intended
    // there, and at one line per round per query it drowns bench/verify
    // logs. Quiet that single logger; real errors still surface.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    registerFunctions(s)
    s
  }

  /** Register graft's native Catalyst expressions with a session.
    * Idempotent AND quiet: re-registering an existing function logs a
    * "replaced a previously registered function" WARN per function per
    * call, which at one registration per query turns bench/verify logs
    * into noise. Presence is checked PER registration (ADVICE r3): a
    * single marker function would leave the session permanently
    * half-registered — with no error and no retry — if any registration
    * after the marker's ever threw once.
    */
  def registerFunctions(s: SparkSession): Unit = {
    import graft.functions._
    val regs: Seq[(Seq[String], SparkSession => Unit)] = Seq(
      Seq(CosineSim.Name) -> (CosineSim.register _),
      Seq(SimHashAgg.Name) -> (SimHashAgg.register _),
      Seq(TopKAgg.Name) -> (TopKAgg.register _),
      Seq(RollingHash.Name) -> (RollingHash.register _),
      Seq(ShingleFunctions.ShingleName, ShingleFunctions.ShingleSeqName,
        ShingleFunctions.SimHashName, ShingleFunctions.MinHashName) -> (ShingleFunctions.register _),
      Seq(TokenStats.Name) -> (TokenStats.register _),
      Seq(WordTokens.Name) -> (WordTokens.register _),
      Seq(RepetitionStats.Name) -> (RepetitionStats.register _),
      Seq(LshBuckets.Name) -> (LshBuckets.register _))
    for ((names, reg) <- regs if !names.forall(s.catalog.functionExists))
      reg(s)
  }
}
