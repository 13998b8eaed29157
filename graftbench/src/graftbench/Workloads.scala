package graftbench

import graft.operators.{Dedup, MapleJuice, Training}
import graft.streaming.Events
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload hands the runner: the per-pass operations plus the
  * inputs it generated. Each call into graft goes through `ctx.op`, which
  * times it, traces it as a span of the named layer and counts it toward
  * `attempted`/`failed`. */
trait Workload {
  /** Untimed work at the end of set-up, so the timed passes run warm. */
  def warmup(ctx: Ctx): Unit
  /** Timed passes that always run, however long they take. */
  def minPasses: Int
  /** Spark's task slots (`local[N]`) on a machine with `cores` cores. */
  def slots(cores: Int): Int
  /** Generate and stage the inputs. */
  def prepare(ctx: Ctx): Unit
  /** One pass over the fixed operation list, checks included. */
  def pass(ctx: Ctx): Unit
  /** The workload's own corpus, for the isolated kernel probes. */
  def corpusFrame(ctx: Ctx): DataFrame
  /** Name, row count and staged bytes of each generated input. */
  def inputs(ctx: Ctx): Seq[(String, Long, Long)]
  /** Bytes the sources layer stored at the end of the last pass. */
  def storedBytes(ctx: Ctx): Long
}

object Workloads {
  val names: Seq[String] = Seq("mj_batch", "corpus_ingest")

  def apply(name: String, seed: Long, size: Double): Workload = name match {
    case "mj_batch" => new MjBatch(seed, size)
    case "corpus_ingest" => new CorpusIngest(seed, size)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }

  private val Langs = Seq("en" -> 0.55, "de" -> 0.15, "fr" -> 0.12, "es" -> 0.1, "zh" -> 0.08)

  /** Bytes of the data files (no sidecars, checksums or markers) under `path`. */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator.filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
  }

  /** MapleJuice batch jobs over a Zipf corpus and a skewed key/value
    * table: word count written through SDFS, grep through the generic
    * maple/juice API, the hash-partition check, a range-partitioned sort,
    * and an SDFS read-back of the word counts. Its files live under
    * `ctx.work` + `sub`. */
  final class MjBatch(seed: Long, size: Double, sub: String = "") extends Workload {
    private val corpusSpec = CorpusSpec(docs = 40000, tokensPerDoc = 50, vocab = 15000,
      zipfS = 1.05, exactDupShare = 0.0, nearDupShare = 0.0, nearDupEdits = 0,
      langWeights = Langs, sources = 20, punctShare = 0.04).scaled(size)
    private val kvSpec = KvSpec(rows = 1200000, keys = 40000, zipfS = 1.2).scaled(size)
    private val GrepPattern = "\\b[a-z]*[qxz][a-z]*"
    private var corpus: Corpus = _
    private var kv: Kv = _
    private var grepTruth: Map[Long, Long] = _
    private def corpusPath(ctx: Ctx) = s"${ctx.work}$sub/input/corpus"
    private def kvPath(ctx: Ctx) = s"${ctx.work}$sub/input/kv"
    private def wcPath(ctx: Ctx) = s"${ctx.work}$sub/out/wordcount"

    /** The warm-up is one pass of the same operations over inputs an
      * eighth the size, generated from the same seed and checked like
      * the timed ones. It runs the same code and generated classes as a
      * full-size pass at about half its cold cost; the median over the
      * timed passes absorbs what warming is left. */
    def warmup(ctx: Ctx): Unit = {
      val small = new MjBatch(seed, size / 8, s"$sub/warmup")
      small.prepare(ctx)
      small.pass(ctx)
    }

    def minPasses: Int = 3

    /** Half the cores. Its tasks keep every slot busy, so with a slot per
      * core the client thread, the collector and the JIT would take turns
      * with them, and a core the host slows down would hold up each stage. */
    def slots(cores: Int): Int = math.max(1, cores / 2)

    def prepare(ctx: Ctx): Unit = {
      ctx.tracer.span("setup", "generate") {
        corpus = Gen.corpus(corpusSpec, seed)
        kv = Gen.kv(kvSpec, seed)
        grepTruth = Gen.grepCounts(corpus, GrepPattern)
      }
      // Both inputs are staged as 8 files, so their map stages run 8 tasks
      // on Spark's slots: a slot the host slows down takes fewer of them
      // instead of holding up the stage.
      ctx.tracer.span("setup", "stage") {
        Gen.docsFrame(ctx.spark, corpus).repartition(8).write.mode("overwrite").parquet(corpusPath(ctx))
        Gen.writeKv(ctx.spark, kv, kvPath(ctx))
      }
    }

    def inputs(ctx: Ctx): Seq[(String, Long, Long)] = Seq(
      ("corpus", corpus.rows.toLong, dataBytes(ctx.spark, corpusPath(ctx))),
      ("corpus_tokens", corpus.tokens, 0L),
      ("corpus_grep_matches", grepTruth.values.sum, 0L),
      ("kv", kv.rows.toLong, dataBytes(ctx.spark, kvPath(ctx))))

    def corpusFrame(ctx: Ctx): DataFrame = ctx.spark.read.parquet(corpusPath(ctx))

    def storedBytes(ctx: Ctx): Long = dataBytes(ctx.spark, wcPath(ctx))

    def pass(ctx: Ctx): Unit = {
      val spark = ctx.spark
      val sdfs = ctx.sdfs
      ctx.op("operators", "mj_wordcount") {
        val wc = MapleJuice.wordCount(sdfs.get(corpusPath(ctx))).persist()
        try {
          val r = wc.agg(count(lit(1)), sum(col("cnt"))).head()
          ctx.tracer.span("sources", "write")(sdfs.put(wc, wcPath(ctx)))
          (r.getLong(0), r.getLong(1))
        } finally wc.unpersist()
      } { got =>
        ctx.addFiles(sdfs.getNumShards(wcPath(ctx)))
        val (words, tokens) = ctx.tamper("mj_wordcount", got)(g => (g._1, g._2 + 1))
        words == corpus.wordCounts.size && tokens == corpus.tokens
      }
      ctx.op("operators", "mj_grep") {
        MapleJuice.grep(sdfs.get(corpusPath(ctx)), GrepPattern).collect()
      } { rows =>
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        ctx.tamper("mj_grep", got)(_.drop(1)) == grepTruth
      }
      ctx.op("operators", "mj_hashcheck") {
        MapleJuice.hashPartitionCheck(spark, sdfs.get(kvPath(ctx)), "key").head()
      } { r =>
        r.getLong(0) == kv.distinctKeys && r.getLong(1) == kv.rows && r.getLong(2) == 0L
      }
      ctx.op("operators", "mj_rangesort") {
        val parts = 2 * ctx.cores
        MapleJuice.partition(sdfs.get(kvPath(ctx)),
          MapleJuice.Partitioner.Range(Seq(col("key"))), Some(parts))
          .sortWithinPartitions("key", "value")
          .rdd.mapPartitionsWithIndex { (pid, it) =>
            var n = 0L; var lo = Long.MaxValue; var hi = Long.MinValue; var s = 0L
            var prev = (Long.MinValue, Long.MinValue); var sorted = true
            it.foreach { r =>
              val kvp = (r.getLong(0), r.getLong(1))
              if (Ordering[(Long, Long)].lt(kvp, prev)) sorted = false
              prev = kvp; n += 1; s += kvp._2
              lo = math.min(lo, kvp._1); hi = math.max(hi, kvp._1)
            }
            Iterator((pid, n, lo, hi, s, sorted))
          }.collect()
      } { parts =>
        val filled = parts.filter(_._2 > 0).sortBy(_._1)
        parts.map(_._2).sum == kv.rows && parts.map(_._5).sum == kv.valueSum &&
          parts.forall(_._6) &&
          filled.sliding(2).forall(w => w.length < 2 || w(0)._4 < w(1)._3)
      }
      ctx.op("sources", "read") {
        sdfs.get(wcPath(ctx)).collect()
      } { rows =>
        val got = ctx.tamper("read", rows)(_.drop(1))
        got.length == corpus.wordCounts.size &&
          got.forall(r => corpus.wordCounts.get(r.getString(0)) == r.getLong(1))
      }
    }
  }

  /** The incremental near-duplicate ingest loop over an sf0.1-shaped
    * corpus with planted exact and near duplicates; three batch pipeline
    * stages over the same corpus (exact dedup, Bloom-gated decontamination,
    * shard shuffle); then the loop's converged verdict written through SDFS
    * as shards, grown by append, compacted, listed and read back. */
  final class CorpusIngest(seed: Long, size: Double) extends Workload {
    private val spec = CorpusSpec(docs = 2000, tokensPerDoc = 40, vocab = 4000, zipfS = 1.0,
      exactDupShare = 0.05, nearDupShare = 0.1, nearDupEdits = 1,
      langWeights = Langs, sources = 20, punctShare = 0.02).scaled(size)
    private var corpus: Corpus = _
    private var twinRows: Seq[Row] = _
    private var decontamRows: Seq[Row] = _
    private var exactTruth: Set[(Long, Long)] = _
    private def stageDir(ctx: Ctx) = s"${ctx.work}/stage"
    private def outPath(ctx: Ctx) = s"${ctx.work}/out/verdict"

    /** A full pass: the loop's cold cost does not shrink with its input. */
    def warmup(ctx: Ctx): Unit = pass(ctx)

    def minPasses: Int = 1

    /** Every core: the loop's tasks are busy about a third of the time. */
    def slots(cores: Int): Int = cores

    /** The loops stage `documents.parquet` as ONE file: a directory of
      * that name would stream zero rows. */
    def prepare(ctx: Ctx): Unit = {
      corpus = Gen.corpus(spec, seed)
      twinRows = null
      decontamRows = null
      exactTruth = corpus.docs.groupBy(_.text).values
        .map(g => (g.map(_.id).min, g.length.toLong)).toSet
      val tmp = s"${ctx.work}/stage_tmp"
      Gen.docsFrame(ctx.spark, corpus).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(stageDir(ctx), "documents.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    /** Exact twins, computed once per set-up on first use: after the
      * warm-up loop has run, so they are not paid cold. The loop must
      * converge to the batch minhash verdict; the Bloom-gated
      * decontamination must equal the exact n-gram one. */
    private def twin(ctx: Ctx): Seq[Row] = {
      if (twinRows == null)
        twinRows = ctx.tracer.span("setup", "batch_twin") {
          Dedup.minhashNearDupVerdict(corpusFrame(ctx)).collect().toSeq
        }
      twinRows
    }
    private def decontamTwin(ctx: Ctx): Seq[Row] = {
      if (decontamRows == null)
        decontamRows = ctx.tracer.span("setup", "decontam_twin") {
          Training.decontamNgram(corpusFrame(ctx))
            .select(col("doc_id"), col("n_shared_shingles")).collect().toSeq
        }
      decontamRows
    }

    def inputs(ctx: Ctx): Seq[(String, Long, Long)] = Seq(
      ("documents", corpus.rows.toLong, new java.io.File(s"${stageDir(ctx)}/documents.parquet").length()),
      ("documents_tokens", corpus.tokens, 0L),
      ("documents_exact_copies", corpus.exactCopies.toLong, 0L),
      ("documents_near_copies", corpus.nearCopies.toLong, 0L),
      ("documents_near_copies_at_threshold", corpus.nearCopiesAtThreshold.toLong, 0L))

    def corpusFrame(ctx: Ctx): DataFrame =
      ctx.spark.read.parquet(s"${stageDir(ctx)}/documents.parquet")

    def storedBytes(ctx: Ctx): Long = dataBytes(ctx.spark, outPath(ctx))

    def pass(ctx: Ctx): Unit = {
      val spark = ctx.spark
      val sdfs = ctx.sdfs
      val streamed = ctx.loop("ingest_neardup") {
        Events.ingestNearDup(spark, stageDir(ctx)).collect().toSeq
      } { rows =>
        val got = ctx.tamper("ingest_neardup", rows)(_.drop(1))
        got.nonEmpty && got == twin(ctx)
      }
      val docs = corpusFrame(ctx)
      ctx.op("operators", "dedup_exact", sample = false) {
        Dedup.exact(docs).collect()
      } { got => got.map(r => (r.getLong(1), r.getLong(2))).toSet == exactTruth }
      ctx.op("operators", "decontam_bloom", sample = false) {
        Training.decontamBloom(docs).collect().toSeq
      } { got => got == decontamTwin(ctx) }
      ctx.op("operators", "shuffle_shards", sample = false) {
        Training.shuffleShards(docs).collect()
      } { got =>
        // a permutation of the corpus: every doc once, positions 1..n per shard
        got.map(_.getLong(0)).sorted.sameElements(corpus.docs.indices.map(_.toLong)) &&
          got.groupBy(_.getLong(1)).forall { case (shard, rs) =>
            shard >= 0 && shard < 8 && rs.map(_.getLong(2)).sorted.sameElements(1L to rs.length)
          }
      }
      val rows = streamed.filter(_.nonEmpty).getOrElse(twin(ctx))
      val verdict = spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
      val out = outPath(ctx)
      var shards = 0
      ctx.op("sources", "write", sample = false) {
        sdfs.put(verdict.filter(col("doc_id") % 2 === 0).repartition(8), out)
      } { _ => shards = sdfs.getNumShards(out); ctx.addFiles(shards); shards > 0 }
      ctx.op("sources", "append", sample = false) {
        sdfs.append(verdict.filter(col("doc_id") % 2 === 1).repartition(8), out)
      } { _ =>
        val now = sdfs.getNumShards(out)
        ctx.addFiles(now - shards)
        now > shards
      }
      val compacted = ctx.op("sources", "compact", sample = false) {
        sdfs.compact(out, targetBytes = 64L << 10)
      } { n => ctx.addFiles(n); n >= 1 && n == sdfs.getNumShards(out) }
      ctx.op("sources", "ls", sample = false) {
        sdfs.ls(out).collect()
      } { ls => compacted.contains(ls.count(_.getString(0).startsWith("part-"))) }
      ctx.op("sources", "read", sample = false) {
        sdfs.get(out).collect()
      } { back =>
        val got = ctx.tamper("read", back)(_.drop(1))
        got.sortBy(_.getLong(0)).toSeq == rows
      }
    }
  }
}
