package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Source layer: loaders for the driver-generated parquet tables.
  *
  * Reference analogue: SDFS `get` (/root/reference/src/sdfs_client.cpp) —
  * here the DFS is whatever Hadoop-compatible store Spark reads from, and
  * a "get" is a (column-pruned, filter-pushed) parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** A BOUNDED verdict relation, computed now: run `body` in
    * [[Scope.around]], collect the relation it returns (at most 1000
    * rows — the `_check` queries return 1-6), release every frame the
    * body registered on its scope, and return the rows as a local
    * relation with the body's schema. A body that throws, or returns
    * too many rows, releases its frames too. So a check's shared passes
    * never outlive the call, whether its caller is a one-shot query, a
    * spec rerunning it, or a library caller in a loop.
    */
  def verdict(body: Scope => DataFrame): DataFrame = Scope.around { s =>
    val df = body(s)
    val rows = df.collect()
    require(rows.length <= 1000,
      s"Tables.verdict is for bounded verdict relations, got ${rows.length} rows")
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts normalized to TimestampType, whatever vintage the staged
    * parquet footer carries. Two drifts seen so far, both handled:
    * TIMESTAMP(NANOS) read as long (spark.sql.legacy.parquet.nanosAsLong
    * =true, set by [[graft.GraftSession]]) → ns truncated to a µs
    * timestamp (DuckDB's CAST(ts AS TIMESTAMP) truncates identically);
    * plain timestamp[us] with no UTC flag, which a session without
    * graft's inferTimestampNTZ=false config reads as TIMESTAMP_NTZ.
    * The NTZ wall-clock IS UTC (the data contract), so the conversion
    * must yield that instant on ANY session — ZONE-MATH-FREE (ADVICE
    * r9): suffix the wall-clock string with an explicit +00:00 offset
    * and parse. A bare cast would interpret the wall in the SESSION
    * zone (a silent multi-hour shift for a non-UTC caller), and the
    * earlier cast-then-from_utc_timestamp round-trip applied the
    * session zone's rules twice — wrong by 1h for walls landing in
    * that zone's DST gap/overlap (~2h/year/zone), an error the
    * conversion INTRODUCED, since a UTC wall is unambiguous. The
    * offset-parse never consults the session zone, so it is exact for
    * every instant; the per-row format+parse cost is confined to this
    * fallback arm (graft's own sessions pin the read to TimestampType
    * at the config layer and never enter it).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))

  /** The ONE copy of the ts normalizer (see [[events]] for the full
    * rationale) — the streaming harness's staging path
    * ([[graft.streaming.Events]]) delegates here, so the batch loader's
    * and the stream's timestamp semantics can never drift apart.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts",
        to_timestamp(concat(col("ts").cast("string"), lit("+00:00"))))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan a scan out to the session's shuffle parallelism before an
    * expensive per-row kernel — but ONLY when the input is actually
    * under-split. A sub-128MB table arrives as ONE file split
    * (spark.sql.files.maxPartitionBytes), so every downstream map-side
    * kernel — shingle hashing, simhash, LSH bucketing, cosine scoring —
    * would run in a single task regardless of cluster size; the
    * round-robin exchange of those few raw rows costs far less than the
    * kernels it parallelizes.
    *
    * The gate is what makes this safe at 100 TB: a full-scale corpus
    * already arrives as ~800k splits, and an unconditional
    * `repartition(n)` there would be a full exchange (plus sort) of the
    * entire corpus text for zero parallelism gain. When the scan already
    * has at least the session's shuffle parallelism, this is the
    * identity — no Exchange enters the plan (asserted by PlanSpec).
    * Opt-in per operator (NOT in the loaders): cheap map-only consumers
    * shouldn't pay the exchange even on a single split.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // getNumPartitions plans the scan (file listing) but executes nothing
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Register every table as a temp view so the whole surface is
    * reachable from `spark.sql` (events with the ts fix applied).
    */
  def registerViews(s: SparkSession, d: String): Unit =
    names.foreach {
      case "events" => events(s, d).createOrReplaceTempView("events")
      case n => load(s, d, n).createOrReplaceTempView(n)
    }
}
