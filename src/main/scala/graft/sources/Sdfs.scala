package graft.sources

import graft.{Scope, Tables}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's DFS surface (SDFS: put / get / append / del / ls /
  * store / mkdir — /root/reference/inc/sdfs_client.h:20-32) re-expressed
  * Spark-first: "the DFS" is whatever Hadoop-compatible filesystem the
  * path points at (HDFS, S3A, local), replication/liveness are the store's
  * job (SURVEY §6), and a file is a dataset in one of the supported
  * formats. put/append are DataFrame writes so they scale with executor
  * count instead of streaming through one client like the reference
  * (/root/reference/src/sdfs_client.cpp); get is a (pruned, pushed-down)
  * read.
  */
class Sdfs(spark: SparkSession) {

  val formats: Seq[String] = Seq("parquet", "csv", "json", "text")

  private def fs(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writer(df: DataFrame, format: String) = {
    val w = df.write.format(format)
    if (format == "csv") w.option("header", "true") else w
  }

  /** SDFS `put` — create/overwrite a dataset at `path`. Distributed
    * write: one file per partition, rename-committed. `metadata` maps
    * the reference's key-value `sdfs_metadata` attached on put
    * (/root/reference/inc/sdfs_client.h:20, sdfs.h:8): stored as a
    * `_`-prefixed sidecar INSIDE the dataset dir, so Spark scans ignore
    * it and del/ls/store see it as part of the dataset.
    */
  def put(df: DataFrame, path: String, format: String = "parquet",
          metadata: Map[String, String] = Map.empty): Unit = {
    writer(df, format).mode(SaveMode.Overwrite).save(path)
    if (metadata.nonEmpty) putMetadata(path, metadata)
  }

  /** SDFS `append` — add rows to an existing dataset (the reference
    * appends byte ranges to a file; the dataset-level equivalent is
    * appending files to the directory, no rewrite of existing data).
    * A non-empty `metadata` replaces the dataset's metadata, matching
    * the reference's append-updates-metadata contract
    * (/root/reference/inc/sdfs_client.h:23).
    */
  def append(df: DataFrame, path: String, format: String = "parquet",
             metadata: Map[String, String] = Map.empty): Unit = {
    writer(df, format).mode(SaveMode.Append).save(path)
    if (metadata.nonEmpty) putMetadata(path, metadata)
  }

  /** SDFS `get` — read a dataset back. `schema` (DDL string) makes
    * csv/json reads schema-stable without an inference pass over the
    * data (never infer at 100 TB).
    */
  def get(path: String, format: String = "parquet", schema: Option[String] = None): DataFrame = {
    val r = spark.read.format(format)
    val r2 = schema.map(r.schema).getOrElse(r)
    val r3 = if (format == "csv") r2.option("header", "true") else r2
    r3.load(path)
  }

  /** SDFS `ls` — metadata listing as a DataFrame (driver-side metadata
    * op, like the reference's master lookup).
    */
  def ls(path: String): DataFrame = {
    val f = fs(path)
    val p = new Path(path)
    val entries =
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.map(s =>
        (s.getPath.getName, s.getLen, s.isDirectory, s.getModificationTime))
    import spark.implicits._
    entries.toDF("name", "size", "is_dir", "mtime").orderBy(col("name"))
  }

  /** SDFS `put <local> <sdfs>` in its literal file form: upload one local
    * file into the DFS (the dataset-level [[put]] is the scalable path —
    * this is the byte-faithful verb for opaque files).
    */
  def putFile(localPath: String, dfsPath: String): Unit =
    fs(dfsPath).copyFromLocalFile(false, true, new Path(localPath), new Path(dfsPath))

  /** SDFS `get <sdfs> <local>` in its literal file form. */
  def getFile(dfsPath: String, localPath: String): Unit =
    fs(dfsPath).copyToLocalFile(false, new Path(dfsPath), new Path(localPath), true)

  // ------------------------------------------------------------- metadata

  /** Where a path's metadata sidecar lives: inside the dir for dataset
    * paths (`_`-prefixed → invisible to Spark file scans), a hidden
    * `.`-prefixed sibling for single-file paths (so a scan of the parent
    * never picks it up).
    */
  private def metaPath(path: String): Path = {
    val p = new Path(path)
    val f = fs(path)
    if (f.exists(p) && f.getFileStatus(p).isDirectory) new Path(p, "_sdfs_metadata")
    else new Path(p.getParent, s".${p.getName}._sdfs_metadata")
  }

  /** Attach/replace the key-value metadata of an existing file or
    * dataset — the reference's `sdfs_metadata` on put/append
    * (/root/reference/inc/sdfs.h:8). Serialized as java.util.Properties
    * (JDK-escaped, arbitrary string keys/values safe); driver-side, the
    * payload is tiny by contract.
    */
  def putMetadata(path: String, metadata: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    metadata.foreach { case (k, v) => props.setProperty(k, v) }
    val out = fs(path).create(metaPath(path), true)
    try props.store(out, null) finally out.close()
  }

  /** SDFS `get_metadata` (/root/reference/inc/sdfs_client.h:28) — None
    * when the path has no metadata attached.
    */
  def getMetadata(path: String): Option[Map[String, String]] = {
    val mp = metaPath(path)
    val f = fs(path)
    if (!f.exists(mp)) None
    else {
      val in = f.open(mp)
      try {
        val props = new java.util.Properties()
        props.load(in)
        import scala.jdk.CollectionConverters._
        Some(props.asScala.toMap)
      } finally in.close()
    }
  }

  /** SDFS `get_num_shards` (/root/reference/inc/sdfs_client.h:39) — how
    * many data files a dataset is split into (the reference counts the
    * shards a file was partitioned across). Driver-side metadata walk:
    * counts non-hidden leaf files (skips `_SUCCESS`, sidecars, commit
    * markers), recursing through partition subdirectories; a single-file
    * path is one shard.
    */
  def getNumShards(path: String): Int = {
    val f = fs(path)
    val p = new Path(path)
    if (!f.getFileStatus(p).isDirectory) 1
    else {
      val root = f.getFileStatus(p).getPath.toUri.getPath
      val it = f.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        val s = it.next()
        // hidden-ness applies to EVERY path component under the dataset
        // root, not just the leaf: a streaming sink's _spark_metadata/
        // or an interrupted job's _temporary/ contain files with plain
        // names that are not shards
        val rel = s.getPath.toUri.getPath.stripPrefix(root).stripPrefix("/")
        if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
          n += 1
      }
      n
    }
  }

  /** Compact a dataset's small files into ~`targetBytes` files. The
    * operational follow-up to [[append]] and streaming sinks, which
    * accumulate one file per micro-batch/partition: at 100 TB a table of
    * 1 MB files pays open/footer costs per file and floods file listings,
    * so compaction is a scheduled hygiene pass. Uses `coalesce` (each
    * output task reads several input files, NO shuffle of the data;
    * coalesce cannot SPLIT partitions, so non-splittable inputs may
    * yield fewer files than the target) and swaps directories by rename.
    * Each rename is atomic, but the PAIR is not: a reader racing the
    * swap can observe a briefly missing path — schedule compaction in a
    * maintenance window, or point readers through a catalog that flips
    * after the swap. The metadata sidecar survives. Pass `schema` for
    * csv/json datasets (self-describing formats don't need it; without
    * it a text-format compact would schema-infer, and a JSON rewrite
    * drops all-null columns). Returns the number of data files the
    * compacted dataset holds.
    *
    * Every rename/delete is CHECKED: Hadoop FS mutations report failure
    * by returning false, and an unchecked false on the swap would delete
    * the only canonical copy or nest the rewrite inside a concurrently
    * recreated dataset dir.
    */
  def compact(path: String, format: String = "parquet",
              targetBytes: Long = 128L << 20, schema: Option[String] = None): Int = {
    def checked(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"compact($path): $what failed")
    val f = fs(path)
    val p = new Path(path)
    val bytes = f.getContentSummary(p).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val meta = getMetadata(path)
    val tmp = new Path(p.getParent, s".${p.getName}.compacting")
    if (f.exists(tmp)) checked(f.delete(tmp, true), s"clearing stale $tmp")
    writer(get(path, format, schema).coalesce(n), format)
      .mode(SaveMode.Overwrite).save(tmp.toString)
    val old = new Path(p.getParent, s".${p.getName}.old")
    if (f.exists(old)) checked(f.delete(old, true), s"clearing stale $old")
    checked(f.rename(p, old), s"moving live dataset aside to $old")
    try checked(f.rename(tmp, p), "swapping compacted dataset in")
    catch { case e: Throwable =>
      // put the original back so a failed swap never leaves the path
      // empty; if even the restore fails, say so rather than masking it
      if (!f.rename(old, p))
        e.addSuppressed(new java.io.IOException(
          s"compact($path): restoring original from $old ALSO failed — data is at $old"))
      throw e
    }
    // re-attach metadata BEFORE dropping the old copy: a failure here
    // leaves the sidecar recoverable at $old instead of gone
    meta.foreach(putMetadata(path, _))
    checked(f.delete(old, true), s"removing $old")
    getNumShards(path)
  }

  // ----------------------------------------------------- namespace verbs

  /** SDFS `del` — remove a dataset (recursive); also drops a single
    * file's hidden metadata sidecar so metadata can't outlive its file.
    */
  def del(path: String): Boolean = {
    val mp = metaPath(path)
    val f = fs(path)
    val deleted = f.delete(new Path(path), true)
    if (f.exists(mp)) f.delete(mp, false)
    deleted
  }

  /** SDFS `mkdir`. */
  def mkdir(path: String): Boolean = fs(path).mkdirs(new Path(path))

  /** SDFS `rmdir` (/root/reference/inc/sdfs_client.h:34) — remove a
    * directory and every file within (the reference's recursive form).
    */
  def rmdir(path: String): Boolean = del(path)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  /** SDFS `ls_files` / `ls_dirs` (/root/reference/inc/sdfs_client.h:36-37)
    * — the reference's split listing verbs, as filtered views of [[ls]].
    */
  def lsFiles(path: String): DataFrame = ls(path).filter(!col("is_dir"))
  def lsDirs(path: String): DataFrame = ls(path).filter(col("is_dir"))

  /** SDFS `store` — the files materialized under a namespace dir (the
    * reference lists blocks held by one node; here: datasets under a
    * prefix).
    */
  def store(namespaceDir: String): DataFrame = ls(namespaceDir)

  /** Write a catalog table bucketed (and sorted) by join keys. Two
    * tables bucketed the same way join WITHOUT a shuffle on either side
    * — the co-location the reference's hash partitioner gives MapleJuice
    * jobs (/root/reference/src/partitioner.cpp:40-55), persisted at the
    * storage layer. At 100 TB this converts every recurring fact-fact
    * join on the bucket keys from a full shuffle into a local merge.
    */
  def putBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                  numBuckets: Int, format: String = "parquet",
                  path: Option[String] = None): Unit = {
    val w = df.write.format(format)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(SaveMode.Overwrite)
    // external table at a DFS path keeps the data inside the SDFS
    // namespace (visible to ls/del/store); omit for a managed table
    // under the session warehouse
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Read a bucketed catalog table (bucket metadata intact). */
  def getTable(table: String): DataFrame = spark.table(table)

  /** Write a dataset laid out as one directory tree per distinct value
    * of `partitionCols` (`col=value/...`, Hive layout) — the storage-side
    * twin of the reference's key-hashed file placement
    * (/root/reference/src/partitioner.cpp:40-55), with the placement key
    * readable back from the PATH: a query filtering on the partition
    * columns is planned against only the matching directories
    * (PartitionFilters on the scan), so at 100 TB a one-partition read
    * costs one directory, not a full-table listing + row-level filter.
    * Pick low-cardinality, always-filtered columns (date, split, tenant);
    * a high-cardinality partition key degenerates into millions of tiny
    * directories — that's what [[putBucketed]] is for.
    */
  def putPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                     format: String = "parquet",
                     metadata: Map[String, String] = Map.empty): Unit = {
    require(partitionCols.nonEmpty, "putPartitioned needs at least one partition column")
    writer(df, format)
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite).save(path)
    if (metadata.nonEmpty) putMetadata(path, metadata)
  }
}

object Sdfs {
  def apply(spark: SparkSession): Sdfs = new Sdfs(spark)

  /** Roundtrip diagnostic (SURVEY `sdfs_roundtrip`): write a lineitem
    * slice in every format, read each back, report row parity. Write
    * targets a fresh temp dir (cleaned afterward); the returned frame is
    * the per-format parity table.
    */
  def roundtrip(spark: SparkSession, sfDir: String, rows: Int = 1000): DataFrame = {
    val sdfs = new Sdfs(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sdfs_rt").toString
    val results = Scope.around { scope =>
      // persist: 4 formats × (put + append) would otherwise re-execute the
      // top-k over lineitem EIGHT times — the slice is computed once and
      // every write reads the cached 1000 rows
      val slice = scope.persist(Tables.lineitem(spark, sfDir)
        .orderBy(col("l_orderkey"), col("l_linenumber")).limit(rows)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag")))
      val sliceSchema = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_quantity DOUBLE, l_returnflag STRING"
      val textSlice = slice.select(concat_ws("|", slice.columns.map(col): _*).as("value"))
      try sdfs.formats.map { fmt =>
        val path = s"$base/$fmt"
        val df = if (fmt == "text") textSlice else slice
        sdfs.put(df, path, fmt)
        sdfs.append(df.limit(100), path, fmt)
        val schema = fmt match {
          case "text" => None
          case _ => Some(sliceSchema)
        }
        val back = sdfs.get(path, fmt, schema).count()
        val expected = rows + 100L
        (fmt, expected, back, back == expected)
      }
      finally sdfs.del(base)
    }
    import spark.implicits._
    results.toDF("format", "rows_written", "rows_read", "parity").orderBy(col("format"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sdfs_roundtrip" -> ((s, d) => roundtrip(s, d)))

  /** The roundtrip result is fully determined (1000 put + 100 appended
    * rows per format), so the oracle pins the expected parity table —
    * any lost or duplicated rows in a format's write/append/read path
    * breaks the hash match.
    */
  val oracle: Map[String, String] = Map(
    "sdfs_roundtrip" ->
      """SELECT format, CAST(1100 AS BIGINT) AS rows_written,
        | CAST(1100 AS BIGINT) AS rows_read, true AS parity
        |FROM (VALUES ('csv'), ('json'), ('parquet'), ('text')) AS t(format)
        |ORDER BY format""".stripMargin)
}
