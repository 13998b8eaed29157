package graft.operators

import graft.{Scope, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators (SURVEY.md §2.7, training-pipeline
  * extension) — the steps AFTER cleaning that turn a corpus into model
  * input: language rebalancing, benchmark decontamination, per-doc
  * keyterm extraction, and sequence packing. None exist in the reference
  * (its pipeline stops at MapleJuice aggregation); they are the
  * capabilities a 100 TB pretraining pipeline layers on top.
  *
  * Scale rules:
  *  - Sampling is content-hashed (like [[Corpus.sampleSplit]]) with a
  *    DIFFERENT salt, so the keep/drop decision is independent of the
  *    train/test assignment and stable under re-ingest — pure map work.
  *  - Decontamination reuses the §2.3 inverted-index join shape: shuffle
  *    on the 64-bit shingle hash, cost Σ df(shingle)·(test hits), never
  *    |train|·|test|.
  *  - TF-IDF is two hash-aggs + one join keyed on the word — the same
  *    keys the aggregation already shuffled on — and the per-doc top-k
  *    window partitions on doc_id (full parallelism, no global sort).
  *  - Packing needs a GLOBAL prefix sum; a naive unpartitioned window is
  *    a single-task bottleneck, so it runs the two-phase formulation:
  *    per-range-partition local sums + a |partitions|-row offset table
  *    broadcast back (same shape as [[Relational.qRankSuppliers]]).
  */
object Training {

  // ------------------------------------------------- stratified sampling

  /** Deterministic stratified downsampling by predicted language: doc is
    * kept iff its salted content-hash bucket falls under its language's
    * keep fraction (256 uniform md5 buckets, like [[Corpus.sampleSplit]]
    * but salted `strat:` so the keep decision is INDEPENDENT of the
    * train/test split — an unsalted reuse of the split hash would drop
    * every sampled-out language's validation/test docs first). Languages
    * absent from `fractions` are kept whole. Re-ingest/re-shard stable;
    * zero shuffles.
    */
  def stratifiedSample(docs: DataFrame,
                       fractions: Map[String, Double] = Map("en" -> 0.5)): DataFrame = {
    val lang = langPredict(
      col("st.en_hits"), col("st.es_hits"), col("st.de_hits"), col("st.fr_hits"))
    val bucket = Corpus.splitBucket(concat(lit("strat:"), col("text")))
    val keep = fractions.foldLeft(lit(true)) { case (acc, (l, f)) =>
      if (f >= 1.0) acc
      else {
        val cap = f"${math.max(0, (256 * f).toInt)}%02x"
        when(col("lang_pred") === l, bucket < cap).otherwise(acc)
      }
    }
    Tables.spread(docs) // TokenStats kernel: fan out a 1-split corpus
      .withColumn("st", graft.functions.TokenStats.tokenStats(col("text")))
      .withColumn("lang_pred", lang)
      .filter(keep)
      .select(col("doc_id"), col("lang_pred"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ n-gram decontamination

  /** Per-doc (split, distinct word-n-gram hash array) in ONE projection —
    * split + shingles both derive from `text`, so computing them together
    * avoids joining [[Corpus.sampleSplit]] back by doc_id (which would
    * shuffle the corpus-wide shingle relation just to re-attach a column
    * the scan already had in hand). Shared by both decontamination
    * formulations.
    */
  private def splitShingled(docs: DataFrame, n: Int): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"),
        Corpus.splitOfBucket(Corpus.splitBucket(col("text"))).as("split"),
        graft.functions.ShingleFunctions.shingleHashes(col("text"), n).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Benchmark decontamination: which TRAIN docs share at least one
    * word-`n`-gram with any TEST doc (split per [[Corpus.sampleSplit]])?
    * The standard pretraining hygiene check (GPT-3 appendix C / PaLM
    * style, 8-13-gram overlap; n=5 here because the test corpus is
    * short-doc). Inverted-index aggregation on the 64-bit shingle hash —
    * the §2.3 scale shape, single-pass: one scan computes split +
    * shingles together, one shuffle groups by hash, and only shingles
    * with BOTH a train and a test posting expand into pairs — cost
    * bounded by shingle selectivity, never |train|·|test|. Output: one
    * row per contaminated train doc with how many test docs it collides
    * with and how many of its distinct shingles are shared.
    */
  def decontamNgram(docs: DataFrame, n: Int = 5,
                    maxShingleDf: Option[Int] = None): DataFrame = {
    val ex = splitShingled(docs, n)
      .select(col("doc_id"), col("split"), explode(col("shingles")).as("s"))
    // ONE scan, one shuffle: a train/test fork joined back on `s` would
    // run the shingle kernel once per side; instead gather each
    // shingle's train and test posting lists in a single aggregation
    // and expand only the contaminated shingles (both lists non-empty).
    // List length is df(shingle): `maxShingleDf` pre-drops shingles
    // hotter than the cap (same knob and rationale as
    // [[Dedup.ngramJaccard]]) — at 100 TB a shared header's 5-gram with
    // df in the millions would otherwise materialize a multi-million-
    // element posting array in one agg buffer. Off by default because
    // the exact oracle needs the uncapped form; the cap only SHRINKS the
    // flagged set (boilerplate-only overlaps stop counting as
    // contamination — usually the desired reading anyway).
    val exCapped = maxShingleDf match {
      case Some(cap) =>
        val hot = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("s"))
        ex.join(broadcast(hot), Seq("s"), "left_anti")
      case None => ex
    }
    val perShingle = exCapped.groupBy(col("s")).agg(
      collect_set(when(col("split") === "train", col("doc_id"))).as("trains"),
      collect_set(when(col("split") === "test", col("doc_id"))).as("tests"))
      .filter(size(col("trains")) > 0 && size(col("tests")) > 0)
    perShingle
      .select(col("s"), explode(col("trains")).as("doc_id"), col("tests"))
      .select(col("s"), col("doc_id"), explode(col("tests")).as("test_id"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("test_id")).as("n_test_docs"),
        countDistinct(col("s")).as("n_shared_shingles"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------- mixture weighting

  /** Target-weighted corpus mixture: downsample each stratum of `by`
    * (default the `lang` metadata column) so the kept corpus approaches
    * the requested composition `weights` — the domain/language weighting
    * step of every pretraining data recipe (e.g. "30% en, 25% es, …"),
    * where a raw crawl's composition never matches the target mix.
    *
    * Formulation: with n_s docs in stratum s and target weight w_s, the
    * largest mixture total no stratum can oversample is
    * T = min_s(n_s / w_s) (the binding stratum keeps everything); each
    * stratum then keeps rate_s = w_s·T / n_s of its docs. The keep
    * decision is the deterministic salted content-hash of
    * [[stratifiedSample]] (256 md5 buckets, salt `mix:` — independent of
    * both the split hash and the strat hash), quantized to
    * cap_s = ⌊256·rate_s⌋ buckets. Strata absent from `weights` are
    * weight-0: dropped entirely (a mixture spec IS the whole recipe).
    *
    * Scale shape: the stratum statistics are one tiny aggregation
    * (|strata| rows — scans ONLY the stratum column thanks to column
    * pruning), the caps table broadcasts back, and the keep decision is
    * pure map work on the main scan. No driver loop, no shuffle of the
    * corpus itself, re-ingest/re-shard stable.
    */
  def corpusMix(docs: DataFrame,
                weights: Map[String, Double] = DefaultMixWeights,
                by: String = "lang"): DataFrame = {
    import docs.sparkSession.implicits._
    val w = weights.toSeq.toDF(by, "w")
    val n = docs.groupBy(col(by)).agg(count(lit(1)).cast("double").as("n_s"))
    val r = n.join(broadcast(w), by)
    val t = r.agg(min(col("n_s") / col("w")).as("t"))
    // the binding stratum's rate is 1.0 mathematically but w·T/n_s
    // rounds BELOW 1 in IEEE doubles for ~5% of (w, n) pairs (e.g.
    // w=0.009, n=5 → 0.9999999999999998), and floor would then yield cap
    // 255 — silently dropping the stratum's 'ff'-bucket docs. The +1e-6
    // nudge (far above double error at this scale, far below the 1/256
    // quantization step) lands exact boundaries on their integer; the
    // oracle applies the identical nudge, so parity holds either way.
    val caps = r.crossJoin(broadcast(t))
      .withColumn("cap",
        floor(lit(256.0) * least(lit(1.0), col("w") * col("t") / col("n_s")) + lit(1e-6))
          .cast("int"))
      .select(col(by), col("cap"))
    mixKeep(docs, caps, "mix:", by)
  }

  /** The shared keep stage of every downsampling mixture: broadcast the
    * |strata|-row caps table back, keep docs whose salted content-hash
    * bucket clears the stratum's cap. One definition of the bucket
    * compare / cap-256 bypass, so the recipes can't drift from each
    * other (their oracles mirror this stage verbatim).
    */
  private def mixKeep(docs: DataFrame, caps: DataFrame, salt: String, by: String): DataFrame =
    docs.join(broadcast(caps), by)
      .filter(col("cap") >= 256 or
        (Corpus.splitBucket(concat(lit(salt), col("text"))) <
          format_string("%02x", col("cap"))))
      .select(col("doc_id"), col(by))
      .orderBy(col("doc_id"))

  /** Token-budgeted mixture: [[corpusMix]] with strata priced in TOKENS
    * rather than documents — the arithmetic every published recipe
    * actually runs on (mixture tables are "% of training tokens"; doc
    * counts misprice strata whose documents differ in length, e.g. long
    * German articles vs short tweets). n_s = Σ tokens in stratum s
    * (the fused [[graft.functions.TokenStats]] pass, same whitespace
    * semantics as every token count in the repo), T = min(n_s/w_s), and
    * the per-DOC salted-hash keep at rate w_s·T/n_s preserves the
    * stratum's expected token share (docs sample i.i.d. within a
    * stratum). Salt `mixTok:`, independent of every other decision hash.
    *
    * Scale shape: same as [[corpusMix]] except the stats pass must read
    * `text` to count tokens — still ONE corpus scan producing a
    * |strata|-row aggregate, broadcast caps, map-only keep.
    */
  def corpusMixTokens(docs: DataFrame,
                      weights: Map[String, Double] = DefaultMixWeights,
                      by: String = "lang"): DataFrame = {
    import docs.sparkSession.implicits._
    val w = weights.toSeq.toDF(by, "w")
    val n = docs
      .select(col(by),
        graft.functions.TokenStats.tokenStats(col("text")).getField("n_tokens").as("nt"))
      .groupBy(col(by)).agg(sum(col("nt")).cast("double").as("n_s"))
    val r = n.join(broadcast(w), by)
    val t = r.agg(min(col("n_s") / col("w")).as("t"))
    val caps = r.crossJoin(broadcast(t))
      .withColumn("cap",
        floor(lit(256.0) * least(lit(1.0), col("w") * col("t") / col("n_s")) + lit(1e-6))
          .cast("int"))
      .select(col(by), col("cap"))
    mixKeep(docs, caps, "mixTok:", by)
  }

  /** en-heavy target over the corpus's five metadata languages. */
  val DefaultMixWeights: Map[String, Double] =
    Map("en" -> 0.3, "es" -> 0.25, "de" -> 0.2, "fr" -> 0.15, "zh" -> 0.1)

  /** Temperature-based mixture rebalancing (the mT5/multilingual-T5
    * recipe, Arivazhagan et al. §4): instead of EXPLICIT target weights
    * ([[corpusMix]]), sample stratum s at a rate that makes the output
    * distribution ∝ n_s^α — α=1 keeps the natural distribution, α=0
    * flattens to uniform, α≈0.3 (the published default) boosts the tail
    * languages a pretraining run would otherwise barely see. The
    * no-upsampling keep-rate with the largest total output is
    * rate_s = (n_min/n_s)^(1−α): the smallest stratum is kept whole and
    * every output size is n_min^(1−α)·n_s^α ∝ n_s^α.
    *
    * Same machinery as [[corpusMix]] — tiny per-stratum agg (column-
    * pruned scan), 1-row n_min broadcast, cap quantized to 256 salted
    * md5 buckets (salt `mixT:`, independent of every other decision
    * hash), keep decision pure map work. Same +1e-6 boundary nudge,
    * mirrored in the oracle (both engines' libm `pow` agree far beyond
    * the nudge's 1e-6 guard band).
    */
  def corpusMixTemperature(docs: DataFrame, alpha: Double = 0.3,
                           by: String = "lang"): DataFrame = {
    val n = docs.groupBy(col(by)).agg(count(lit(1)).cast("double").as("n_s"))
    val nMin = n.agg(min(col("n_s")).as("n_min"))
    val caps = n.crossJoin(broadcast(nMin))
      .withColumn("cap",
        floor(lit(256.0) * pow(col("n_min") / col("n_s"), lit(1.0 - alpha)) + lit(1e-6))
          .cast("int"))
      .select(col(by), col("cap"))
    mixKeep(docs, caps, "mixT:", by)
  }

  /** Epochs-style UPSAMPLED mixture — the complement of [[corpusMix]]
    * (which only ever downsamples): reach the target composition by
    * REPEATING under-represented strata instead of discarding the
    * over-represented ones, the standard recipe when the corpus is the
    * binding constraint (every public pretraining mix repeats its small
    * high-quality sources — Wikipedia/books at 2-4 epochs — rather than
    * throwing away web scale). Repeats are capped at `maxRepeat` epochs:
    * past ~4 repetitions additional epochs of the same data stop buying
    * loss (Muennighoff et al. 2023, data-constrained scaling laws), so
    * the cap is the published operating point, not a tuning knob.
    *
    * Formulation: with n_s docs in stratum s and target weight w_s, the
    * smallest total that upsamples every stratum to target is
    * T = max_s(n_s / w_s) (the binding stratum repeats exactly once);
    * stratum s then needs rate_s = w_s·T / n_s ≥ 1 copies per doc. The
    * integer part repeats every doc; the fractional part becomes ONE
    * extra copy for the docs whose salted content-hash bucket (salt
    * `up:`, independent of every other decision hash) falls under
    * ⌊256·frac⌋ — the same 256-bucket quantization as [[corpusMix]],
    * same +1e-6 boundary nudge mirrored in the oracle. Output is one row
    * per (doc, copy) with a dense `copy_id`, the relation a dataloader
    * shuffles into epochs ([[shuffleShards]] composes downstream).
    *
    * Scale shape: identical to [[corpusMix]] — a |strata|-row aggregate
    * (column-pruned scan), a broadcast caps table, then pure map work;
    * the explode fans out at most `maxRepeat` rows per doc inside the
    * scan task, so the corpus never shuffles and output cost is the
    * output's own size. No driver loop.
    */
  def corpusUpsample(docs: DataFrame,
                     weights: Map[String, Double] = DefaultMixWeights,
                     maxRepeat: Int = 4,
                     by: String = "lang"): DataFrame =
    corpusUpsampleRaw(docs, weights, maxRepeat, by)
      .orderBy(col("doc_id"), col("copy_id"))

  /** [[corpusUpsample]] without the user-facing sort — the form
    * compositions consume: [[shuffleShardsCopies]] immediately hash-
    * exchanges on `shard`, so an upstream global orderBy would be a
    * full range-exchange + sort of the fanned-out corpus for nothing
    * (the dedupClusters discipline).
    */
  private[operators] def corpusUpsampleRaw(docs: DataFrame,
                                           weights: Map[String, Double] = DefaultMixWeights,
                                           maxRepeat: Int = 4,
                                           by: String = "lang"): DataFrame = {
    import docs.sparkSession.implicits._
    val w = weights.toSeq.toDF(by, "w")
    val n = docs.groupBy(col(by)).agg(count(lit(1)).cast("double").as("n_s"))
    val r = n.join(broadcast(w), by)
    val t = r.agg(max(col("n_s") / col("w")).as("t"))
    // rate_s ≥ 1 by construction (T is the max), so base ≥ 1 and the
    // sequence below is never empty; frac < 1 strictly, so cap ≤ 255.
    val reps = r.crossJoin(broadcast(t))
      .withColumn("rate",
        least(lit(maxRepeat.toDouble), col("w") * col("t") / col("n_s") + lit(1e-6)))
      .withColumn("base", floor(col("rate")).cast("int"))
      .withColumn("cap", floor(lit(256.0) * (col("rate") - floor(col("rate")))).cast("int"))
      .select(col(by), col("base"), col("cap"))
    docs.join(broadcast(reps), by)
      .withColumn("n_copies",
        col("base") + when(Corpus.splitBucket(concat(lit("up:"), col("text"))) <
          format_string("%02x", col("cap")), 1).otherwise(0))
      .select(col("doc_id"), col(by),
        // the generator must be a TOP-LEVEL select expression — wrapping
        // it in a Cast is UNSUPPORTED_GENERATOR.NESTED_IN_EXPRESSIONS at
        // analysis time, so build the sequence over longs directly
        explode(sequence(lit(1L), col("n_copies").cast("long"))).as("copy_id"))
  }

  // -------------------------------------------- Bloom-gated decontamination

  /** Decontamination, Bloom-sketch formulation: broadcast a Bloom filter
    * of the TEST split's shingle hashes, probe every TRAIN doc's shingle
    * array against it in the scan (pure map — the train corpus is never
    * shuffled), and exactly confirm the few survivors with a broadcast
    * join so false positives drop out. Output: contaminated train docs
    * with their distinct shared-shingle count — the
    * [[decontamNgram]] relation minus the per-test-doc attribution.
    *
    * Why this exists alongside [[decontamNgram]]: the inverted-index
    * join is exact and attributes which test docs collide, but it
    * shuffles EVERY train shingle. At 100 TB train / fixed-size test
    * benchmarks, the right shape is this one — the test side compresses
    * to a few MB of Bloom bits (heldout benchmarks are ~10⁶ shingles
    * regardless of train size), the train side stays map-only, and the
    * confirm join touches only docs the sketch already flagged (the
    * contamination rate, not the corpus). Same pairing discipline as
    * q_percentiles / q_approx_percentiles: exact twin verifies, sketch
    * twin scales.
    *
    * The Bloom probe is the native codegen'd
    * [[graft.functions.BloomAnyContain]] expression (sketch shipped as a
    * `Broadcast[BloomFilter]`, fetched once per operator instance): the
    * corpus gate stays inside whole-stage codegen reading primitive
    * longs off Tungsten ArrayData — no Seq[Long] boxing per row, no
    * ScalaUDF node in the plan (PlanSpec pins this). The confirm step
    * makes FP rate a pure performance knob, so the result is exact and
    * hash-checkable.
    */
  def decontamBloom(docs: DataFrame, n: Int = 5, fpp: Double = 0.01): DataFrame =
    Scope.session.around { scope =>
      val spark = docs.sparkSession
      val ss = splitShingled(docs, n)
      // test side: tiny by definition (the heldout benchmark), but
      // DERIVING it scans the full corpus (split is content-hashed) — so
      // materialize it ONCE with an eager checkpoint shared by all three
      // consumers: the sizing count, the bloomFilter build, and the
      // confirm join's broadcast below. A persist/unpersist-before-return
      // dance would make the lazy confirm join re-scan the whole corpus at
      // execution; the pinned blocks here are the sketch-sized test set,
      // not the corpus.
      val testShingles = scope.checkpoint(ss.filter(col("split") === "test")
        .select(explode(col("shingles")).as("s")).distinct())
      val nTest = testShingles.count()
      // Spark's stat.bloomFilter NPEs on an EMPTY relation (the sketch
      // aggregate produces no row to read back) — and an empty test
      // split means no contamination is possible anyway
      if (nTest == 0) docs.select(col("doc_id"), lit(0L).as("n_shared_shingles")).limit(0)
      else {
        val bfB = spark.sparkContext.broadcast(testShingles.stat.bloomFilter("s", nTest, fpp))
        ss.filter(col("split") === "train")
          // map-only corpus gate, native + codegen'd
          .filter(graft.functions.BloomProbe.anyContain(spark, col("shingles"), bfB))
          .select(col("doc_id"), explode(col("shingles")).as("s"))
          .join(broadcast(scope.keep(testShingles)), "s") // exact confirm: FPs drop here
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared_shingles"))
          .orderBy(col("doc_id"))
      }
    }

  /** SEMANTIC decontamination — the FOURTH family member, over
    * EMBEDDINGS instead of shingles: flag train docs whose embedding is
    * cosine-≥`threshold` to ANY test-split doc's embedding. This is the
    * contamination the n-gram family structurally misses — a PARAPHRASED
    * eval example shares meaning, not 5-grams (the embedding-similarity
    * decontam check of the GPT-3/Llama eval-hygiene lineage). Same
    * bounded-side shape as [[decontamFuzzy]]: the test split is small by
    * construction (~10%) and here additionally (test_id, vec) rows —
    * eager-checkpointed and broadcast — while the train side streams
    * map-only out of its own scan, scored by the native codegen'd
    * [[graft.functions.CosineSim]] (same accumulation order as DuckDB's
    * list_cosine_similarity, so the oracle hash-matches exactly). Only
    * docs WITH embeddings participate (the corpus↔embedding join is the
    * doc_id = vec_id key); threshold 0.4 on this synthetic corpus (its
    * max cross-split cosine is ≈0.51 — real pipelines run ~0.9+ on
    * real encoders). Per contaminated train doc: how many test docs it
    * semantically collides with and the worst cosine — the relation a
    * pipeline subtracts (or audits) before training.
    */
  def decontamSemantic(spark: SparkSession, d: String,
                       threshold: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val withSplit = Tables.documents(spark, d)
      .select(col("doc_id"),
        Corpus.splitOfBucket(Corpus.splitBucket(col("text"))).as("split"))
      .join(emb, "doc_id")
    // spread: the broadcast nested-loop scores |train|·|test| pairs in
    // the probe-side tasks (embeddingPairs' note)
    val train = Tables.spread(withSplit.filter(col("split") === "train"))
      .select(col("doc_id"), col("v"))
    val test = Scope.session.checkpoint(withSplit.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("v").as("vt")))
    train.crossJoin(broadcast(test))
      .select(col("doc_id"),
        round(graft.functions.CosineSim.cosineSim(col("v"), col("vt")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_test_hits"), max(col("cos_sim")).as("max_cos"))
      .orderBy(col("doc_id"))
  }

  /** FUZZY decontamination: train docs NEAR-DUPLICATING any test doc by
    * word-`n`-gram Jaccard ≥ `threshold` — the third member of the
    * decontamination family. [[decontamNgram]]/[[decontamBloom]] flag
    * ANY shared n-gram (maximum recall, noisy: one quoted sentence
    * flags a doc); this one flags only docs that are substantially the
    * test doc (the Llama/GPT-4-report style "near-duplicate of an eval
    * example" criterion), emitting per train doc how many test docs it
    * near-duplicates and the worst overlap. Same exact-Jaccard
    * semantics as [[Dedup.ngramJaccard]], restricted train×test.
    *
    * Scale shape: the [[decontamBloom]] discipline, not the
    * [[Dedup.ngramJaccard]] one — a corpus-wide persist of the shingled
    * relation would pin shingled-corpus-sized blocks with no release
    * point (the return is lazy), which is exactly the cache-hygiene
    * leak the `_check` queries were cured of. Instead the TEST side
    * (fixed-size heldout benchmark — ~10⁶ shingles no matter how big
    * train gets) is materialized ONCE with an eager localCheckpoint and
    * broadcast into the join; the TRAIN side streams map-only straight
    * from its own scan. Two column-pruned scans of the corpus, zero
    * corpus-sized pinned blocks, train never shuffled: the only
    * exchange carries the matched (train, test, shingle) rows, bounded
    * by real overlap. The same `maxShingleDf` posting cap as the dedup
    * family applies at 100 TB if boilerplate shingles get hot; off here
    * because the exact oracle needs the uncapped join.
    */
  def decontamFuzzy(docs: DataFrame, threshold: Double = 0.8, n: Int = 5): DataFrame = {
    val tr = splitShingled(docs, n).filter(col("split") === "train")
      .select(col("doc_id"), size(col("shingles")).as("n1"), explode(col("shingles")).as("s"))
    val te = Scope.session.checkpoint(splitShingled(docs, n).filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), size(col("shingles")).as("n2"),
        explode(col("shingles")).as("s")))
    val jac = col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter"))
    tr.join(broadcast(te), "s")
      .groupBy(col("doc_id"), col("test_id"))
      .agg(count(lit(1)).as("inter"), first(col("n1")).as("n1"), first(col("n2")).as("n2"))
      .filter(jac >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near_dup_test_docs"),
        max(round(jac, 6)).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- tf-idf

  /** Per-doc top-`k` terms by TF-IDF (wc_maple sanitize semantics —
    * the reference's mje/src/wc_maple.cpp:10-21, via
    * [[graft.functions.WordTokens]] — so the term space matches
    * `vocab_topk`): score = tf · ln(N/df), ROUNDED to 6dp BEFORE
    * ranking so Spark and the oracle rank identical values identically
    * (ties broken by word). Two hash-aggs (doc,word) → (word), one join
    * back on `word` — the key the agg already shuffled on — N broadcast
    * as a 1-row aggregate, and the top-k window partitions by doc_id:
    * every stage is full-width, nothing global.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val words = Tables.spread(docs) // tokenize+explode kernel: fan out a 1-split corpus
      .select(col("doc_id"),
        explode(graft.functions.WordTokens.wordTokens(col("text"))).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, "word").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("word"))
  }

  // ------------------------------------------------------ sequence packing

  /** Sequence packing prologue: concatenate docs in doc_id order and
    * assign each its global token start offset and containing sequence
    * id (`start_offset / seqLen`) — the concatenate-and-chunk layout LLM
    * pretraining feeds (docs may straddle sequence boundaries; the
    * chunker slices fixed windows downstream).
    *
    * The global prefix sum runs TWO-PHASE (an unpartitioned window would
    * drag every row through one task): range-partition by doc_id, local
    * cumulative sums per partition via a pid-partitioned window, then a
    * |partitions|-row offset table (window over ≤ shuffle-partition
    * rows) broadcast back. localCheckpoint pins the nondeterministic
    * range-sample so both consumers see one pid assignment (the
    * [[Relational.qRankSuppliers]] pattern).
    */
  def packSequences(docs: DataFrame, seqLen: Int = 2048): DataFrame =
    packOffsets(
      docs.select(col("doc_id"),
        graft.functions.TokenStats.tokenStats(col("text")).getField("n_tokens").as("n_tokens")),
      seqLen)
      .orderBy(col("doc_id"))

  /** The prefix-sum core of [[packSequences]] over a pre-tokencounted
    * (`doc_id`, `n_tokens`) relation — reused by [[trainingManifest]],
    * which packs an already-scored kept set. Unordered output (callers
    * sort or join).
    */
  private[operators] def packOffsets(toks: DataFrame, seqLen: Int = 2048): DataFrame = {
    val parted = toks.repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val local = parted.withColumn("local_before",
      sum(col("n_tokens")).over(
        Window.partitionBy(col("pid")).orderBy(col("doc_id"))) - col("n_tokens"))
    val offsets = parted.groupBy(col("pid")).agg(sum(col("n_tokens")).as("tot"))
      .withColumn("offset",
        coalesce(sum(col("tot")).over(
          Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), Seq("pid"))
      .withColumn("start_offset", col("offset") + col("local_before"))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        floor(col("start_offset") / seqLen).cast("long").as("seq_id"))
  }

  /** Bin-packing alternative to [[packSequences]]: assign each doc to
    * exactly ONE training sequence (bin) of capacity `seqLen` by
    * first-fit-decreasing, so no document straddles a sequence boundary
    * — the packing used when truncation/straddling is unacceptable
    * (instruction tuning, long-context curricula) at the price of
    * per-bin padding waste, which FFD minimizes to near-optimal.
    *
    * Distributed formulation: docs hash-partition by doc_id (stateless,
    * deterministic — no range sampling), each partition sorts by
    * (n_tokens desc, doc_id) and streams FFD over the sorted iterator;
    * bin ids are (pid << 32 | local bin index), so no coordination
    * crosses partitions. Per-partition state is one long per open bin
    * (~totalTokens/seqLen entries). Oversized docs (n_tokens ≥ seqLen)
    * close their own single-doc bin immediately. Packing quality is the
    * per-partition FFD guarantee; the global first-fit invariant "at
    * most one bin at-most-half-full PER PARTITION" is what
    * [[packBestFitCheck]] pins under the oracle gate (the assignment
    * itself is partition-count-dependent, hence rows-only).
    */
  def packSequencesBestFit(docs: DataFrame, seqLen: Int = 256,
                           partitions: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.TokenStats.tokenStats(col("text"))
          .getField("n_tokens").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
    counts.as[(Long, Long)]
      .repartition(partitions, col("doc_id")) // deterministic hash placement
      .sortWithinPartitions(col("n_tokens").desc, col("doc_id"))
      .mapPartitions { it =>
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.map { case (id, n) =>
          val pid = org.apache.spark.TaskContext.getPartitionId().toLong
          val local =
            // oversized: own bin, marked full (sentinel = capacity, so
            // any n >= 1 fails the fit test — never Long.MaxValue, whose
            // fit test would overflow and wrap)
            if (n >= seqLen) { loads += seqLen.toLong; loads.length - 1 }
            else {
              var b = 0
              while (b < loads.length && loads(b) + n > seqLen) b += 1
              if (b == loads.length) loads += n else loads(b) += n
              b
            }
          (id, n, (pid << 32) | local.toLong)
        }
      }
      .toDF("doc_id", "n_tokens", "bin_id")
      .orderBy(col("doc_id"))
  }

  /** Oracle-checkable contract twin for [[packSequencesBestFit]] (the
    * assignment is partition-dependent; these invariants are not):
    * every eligible doc packed exactly once (count ties to the data),
    * no multi-doc bin over capacity, and the first-fit guarantee — at
    * most one at-most-half-full bin per partition, so at most
    * `partitions` corpus-wide. A lost doc, an overfull bin, or a
    * degenerate packing (many near-empty bins) each flips a pinned
    * column and hash-mismatches the row.
    */
  def packBestFitCheck(docs: DataFrame, seqLen: Int = 256,
                       partitions: Int = 8): DataFrame = {
    val packed = packSequencesBestFit(docs, seqLen, partitions)
    val bins = packed.groupBy(col("bin_id"))
      .agg(sum(col("n_tokens")).as("load"), count(lit(1)).as("n_in_bin"))
    packed
      .agg(count(lit(1)).as("n_docs"),
        (countDistinct(col("doc_id")) === count(lit(1))).as("all_docs_once"))
      .crossJoin(broadcast(bins.agg(
        coalesce(sum(when(col("load") > seqLen && col("n_in_bin") > 1, 1L)
          .otherwise(0L)), lit(0L)).as("n_overloaded_bins"),
        (coalesce(sum(when(col("load") * 2 <= seqLen, 1L).otherwise(0L)), lit(0L))
          <= partitions).as("underhalf_bins_bounded"))))
  }

  /** [[packSequences]] with the REAL token counter: learn a BPE merge
    * table over the corpus ([[Bpe.train]], batched rounds), tokenize
    * corpus-wide ([[Bpe.tokenize]] — the native single-pass encoder,
    * one map pass, cost independent of |merges|), and pack by
    * `n_bpe_tokens` instead of whitespace counts.
    * This is the production packing input: sequence budgets are consumed
    * by TOKENIZER tokens, and whitespace counts misprice non-English and
    * code by 2-4x. Same two-phase prefix sum, same output schema.
    *
    * No SQL oracle by design: the merge table is the fixpoint of an
    * iterative corpus-wide optimization, not a single statement; BpeSpec
    * pins tokenize word-for-word against the driver-side reference and
    * the offsets are the (oracle-checked) packOffsets machinery.
    */
  def packSequencesBpe(docs: DataFrame, numMerges: Int = 24,
                       seqLen: Int = 2048): DataFrame = {
    val merges = Bpe.train(docs, numMerges, batchSize = 8)
    packOffsets(
      Bpe.tokenize(docs, merges).select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
      seqLen)
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------ training manifest

  /** The end-to-end capstone: raw documents → THE relation a trainer
    * consumes, one call. Composes the pipeline's stages in their
    * production order:
    *
    *  1. clean ([[Corpus.cleanCorpus]]): quality + langid scoring fused
    *     in one scan, near-dup clusters dropped (CC over the ngram-
    *     Jaccard pair graph);
    *  2. split ([[Corpus.sampleSplit]]): content-hashed train/val/test;
    *  3. decontaminate ([[decontamNgram]]): TRAIN docs sharing a
    *     5-gram with any test doc are dropped — only train pays this
    *     (dropping val/test rows for overlapping TRAIN would invert the
    *     hygiene direction);
    *  4. pack ([[packOffsets]]): two-phase prefix sum assigns every
    *     surviving train doc its global token offset + sequence id.
    *     Non-train rows carry the documented -1 sentinel (they are
    *     evaluated, not packed).
    *
    * Every stage keeps its own scale shape (documented at its
    * definition); the composition adds two joins: split attach (map-side
    * vs the scored scan under AQE) and the contaminated-list anti
    * filter, both keyed on doc_id. The contaminated list and the packed
    * offsets are contamination-/train-sized, never corpus-wide
    * relations.
    *
    * `bpeMerges = Some(n)` swaps the token counter (VERDICT r5 #4): a
    * BPE table of n merges is learned on the KEPT TRAIN docs only (the
    * tokenizer must not see validation/test text — the same hygiene
    * direction as decontamination), the whole kept corpus is tokenized
    * with it ([[Bpe.tokenize]], one codegen'd map pass), and `n_tokens`
    * becomes the BPE count EVERYWHERE — offsets, sequence ids and the
    * emitted column stay mutually consistent, and eval docs carry the
    * same unit the trainer's loss accounting uses. Default stays the
    * whitespace counter: it's oracle-checkable end-to-end, while the
    * merge-table fixpoint is not single-statement SQL (the BPE path is
    * spec-pinned instead — TrainingSpec).
    */
  def trainingManifest(spark: SparkSession, d: String, seqLen: Int = 2048,
                       bpeMerges: Option[Int] = None): DataFrame = {
    val docs = graft.Tables.documents(spark, d)
    val kept = Corpus.cleanCorpus(spark, d)
    val split = Corpus.sampleSplit(docs).select(col("doc_id"), col("split"))
    val contaminated = decontamNgram(docs)
      .select(col("doc_id"), lit(true).as("contam"))
    // persist: base feeds BOTH the pack input (which packOffsets forces
    // EAGERLY via its localCheckpoint) and the final join — without it
    // the whole clean+split+decontam chain above runs twice, once per
    // consumer. Evictable cache, lineage intact (the lazy-return
    // pattern of ngramJaccard).
    val whitespaceBase = kept.join(split, "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .filter(col("split") =!= lit("train") || col("contam").isNull)
      .select(col("doc_id"), col("split"), col("lang_pred"), col("quality"), col("n_tokens"))
      .persist()
    val base = bpeMerges match {
      case None => whitespaceBase
      case Some(n) =>
        val trainDocs = docs.join(
          whitespaceBase.filter(col("split") === "train").select(col("doc_id")), "doc_id")
        val merges = Bpe.train(trainDocs, n, batchSize = 8)
        val counts = Bpe.tokenize(docs.join(whitespaceBase.select(col("doc_id")), "doc_id"), merges)
          .select(col("doc_id"), col("n_bpe_tokens"))
        whitespaceBase.drop("n_tokens").join(counts, "doc_id")
          .withColumnRenamed("n_bpe_tokens", "n_tokens")
          .persist()
    }
    val packed = packOffsets(
      base.filter(col("split") === "train").select(col("doc_id"), col("n_tokens")), seqLen)
      .select(col("doc_id"), col("start_offset"), col("seq_id"))
    base.join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("lang_pred"), col("quality"), col("n_tokens"),
        coalesce(col("start_offset"), lit(-1L)).as("start_offset"),
        coalesce(col("seq_id"), lit(-1L)).as("seq_id"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------- shard shuffle

  /** Deterministic global shuffle + shard manifest — the data-ORDER
    * randomization step between corpus construction and the trainer's
    * dataloader: every doc gets a pseudo-random order key (salted md5 —
    * content-independent so identical docs don't cluster, id-keyed so
    * re-ingest is stable), a shard (key bucket mod `nShards`) and its
    * position within the shard. A new `epoch` re-salts the key: a fresh
    * permutation with zero state carried between epochs, which is how a
    * 100 TB run reshuffles — recompute the manifest, never re-write the
    * data.
    *
    * Scale shape: ONE hash exchange on `shard` + an in-shard sort via
    * the shard-partitioned window (never the single-partition global
    * window — PlanSpec pins the partitioned exchange). `nShards` is
    * sized so a shard's manifest fits one task comfortably (at 100 TB,
    * tens of thousands of shards — the trainer wants many shards for
    * loader parallelism anyway); the per-shard row_number is the only
    * non-map work and it runs on (key, id) pairs, not documents.
    * The shard bucket comes from the first two hex chars (256 uniform
    * buckets, same discipline as [[Corpus.splitBucket]]) so the DuckDB
    * oracle reproduces it with ascii arithmetic — Spark's `conv` has no
    * DuckDB twin.
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 8, epoch: Int = 0): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      md5(concat(lit(s"shuffle:$epoch:"), col("doc_id").cast("string")).cast("binary")).as("ok"))
    keyed
      .withColumn("shard",
        pmod(hexVal(substring(col("ok"), 1, 1)) * 16 + hexVal(substring(col("ok"), 2, 1)),
          lit(nShards)).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("ok"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  private def hexVal(c: Column): Column =
    when(c >= "a", ascii(c) - 87).otherwise(ascii(c) - 48)

  /** [[shuffleShards]] for an UPSAMPLED relation — one row per
    * (doc, copy), [[corpusUpsample]]'s output. The copy_id joins the
    * order-key salt, so the copies of one doc scatter INDEPENDENTLY
    * across shards and positions: a doc_id-only key would hand every
    * copy the same key and the dataloader would read the same text
    * back-to-back, defeating the point of upsampling. Same scale shape
    * as [[shuffleShards]] (one hash exchange on `shard`, in-shard
    * window), same 256-bucket ascii-arithmetic so the DuckDB oracle
    * reproduces the shard byte exactly.
    */
  def shuffleShardsCopies(copies: DataFrame, nShards: Int = 8, epoch: Int = 0): DataFrame = {
    val keyed = copies.select(col("doc_id"), col("copy_id"),
      md5(concat(lit(s"shuffle:$epoch:"), col("doc_id").cast("string"),
        lit(":"), col("copy_id").cast("string")).cast("binary")).as("ok"))
    keyed
      .withColumn("shard",
        pmod(hexVal(substring(col("ok"), 1, 1)) * 16 + hexVal(substring(col("ok"), 2, 1)),
          lit(nShards)).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("ok"), col("doc_id"), col("copy_id"))).cast("long"))
      .select(col("doc_id"), col("copy_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  // --------------------------------------------------------------- driver

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shuffle_shards" -> ((s, d) => shuffleShards(Tables.documents(s, d))),
    "shuffle_shards_upsampled" ->
      ((s, d) => shuffleShardsCopies(corpusUpsampleRaw(Tables.documents(s, d)))),
    "sample_stratified" -> ((s, d) => stratifiedSample(Tables.documents(s, d))),
    "corpus_mix" -> ((s, d) => corpusMix(Tables.documents(s, d))),
    "corpus_mix_temperature" -> ((s, d) => corpusMixTemperature(Tables.documents(s, d))),
    "corpus_mix_tokens" -> ((s, d) => corpusMixTokens(Tables.documents(s, d))),
    "corpus_upsample" -> ((s, d) => corpusUpsample(Tables.documents(s, d))),
    "decontam_ngram" -> ((s, d) => decontamNgram(Tables.documents(s, d))),
    "decontam_bloom" -> ((s, d) => decontamBloom(Tables.documents(s, d))),
    "decontam_fuzzy" -> ((s, d) => decontamFuzzy(Tables.documents(s, d))),
    "decontam_semantic" -> ((s, d) => decontamSemantic(s, d)),
    "tfidf_topterms" -> ((s, d) => tfidfTopTerms(Tables.documents(s, d))),
    "pack_sequences" -> ((s, d) => packSequences(Tables.documents(s, d))),
    "pack_sequences_bestfit" -> ((s, d) => packSequencesBestFit(Tables.documents(s, d))),
    "pack_bestfit_check" -> ((s, d) => packBestFitCheck(Tables.documents(s, d))),
    "pack_sequences_bpe" -> ((s, d) => packSequencesBpe(Tables.documents(s, d))))

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** The [[corpusUpsample]] CTE chain (→ `copies(doc_id, lang,
    * copy_id)`), shared by the corpus_upsample and
    * shuffle_shards_upsampled oracles — one definition of the rate /
    * cap / fractional-copy arithmetic, so a recipe change cannot split
    * the two oracles.
    */
  private def upsampleCtes: String = {
    val values = DefaultMixWeights.toSeq.sortBy(_._1)
      .map { case (l, wt) => s"('$l', CAST($wt AS DOUBLE))" }.mkString(", ")
    s"""w(lang, w) AS (VALUES $values),
       |n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY lang),
       |r AS (SELECT n.lang, n_s, w FROM n JOIN w USING (lang)),
       |t AS (SELECT max(n_s / w) AS t FROM r),
       |reps AS (SELECT lang,
       |   least(CAST(4.0 AS DOUBLE), w * t.t / n_s + 1e-6) AS rate
       |  FROM r CROSS JOIN t),
       |caps AS (SELECT lang, CAST(floor(rate) AS INT) AS base,
       |   CAST(floor(256 * (rate - floor(rate))) AS INT) AS cap FROM reps),
       |copies AS (SELECT d.doc_id, d.lang, CAST(unnest(generate_series(1,
       |   base + CASE WHEN substr(md5('up:' || text), 1, 2) < printf('%02x', cap)
       |               THEN 1 ELSE 0 END)) AS BIGINT) AS copy_id
       |  FROM documents d JOIN caps USING (lang))""".stripMargin
  }

  /** DuckDB word-5-gram list comprehension over token-list column `ts` —
    * ONE definition of the shingle width/shape shared by the
    * decontam_ngram, decontam_bloom and pipe_training_manifest oracles
    * (a width change edited in one of three copies would silently split
    * the oracles from each other).
    */
  private[graft] def fiveGramListOf(ts: String): String =
    s"[$ts[i] || ' ' || $ts[i+1] || ' ' || $ts[i+2] || ' ' || $ts[i+3] || ' ' || $ts[i+4]\n" +
      s"    for i in range(1, len($ts) - 3)]"

  /** Shared decontamination-oracle preamble (tokens → content-hash split
    * → distinct 5-gram shingles → exploded postings): decontam_ngram and
    * decontam_bloom must stay character-identical up to their final
    * train/test aggregation.
    */
  private val decontamCtes =
    """t AS (SELECT doc_id, text,
      |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
      |sp AS (SELECT doc_id, ts,
      |  CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
      |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'validation'
      |       ELSE 'test' END AS split
      | FROM t),
      |sh AS (SELECT doc_id, split, list_distinct(
      |   """.stripMargin + fiveGramListOf("ts") + """) AS shingles
      |  FROM sp WHERE len(ts) >= 5),
      |ex AS (SELECT doc_id, split, len(shingles) AS nsh, unnest(shingles) AS s FROM sh)""".stripMargin

  val oracle: Map[String, String] = Map(
    // salted-md5 order key + 256-bucket shard: the ascii arithmetic is
    // the DuckDB-portable hex→int (no conv() there); epoch 0 salt
    "shuffle_shards" ->
      """WITH b AS (SELECT doc_id, md5('shuffle:0:' || doc_id) AS ok FROM documents),
        |h AS (SELECT doc_id, ok,
        |  ((CASE WHEN substr(ok, 1, 1) >= 'a' THEN ascii(substr(ok, 1, 1)) - 87
        |         ELSE ascii(substr(ok, 1, 1)) - 48 END) * 16
        |   + (CASE WHEN substr(ok, 2, 1) >= 'a' THEN ascii(substr(ok, 2, 1)) - 87
        |          ELSE ascii(substr(ok, 2, 1)) - 48 END)) % 8 AS shard
        | FROM b)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    // pack_sequences_bestfit is rows-only (assignment depends on the
    // partition count); this twin pins its partition-free contract
    "pack_bestfit_check" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS all_docs_once,
        | CAST(0 AS BIGINT) AS n_overloaded_bins, true AS underhalf_bins_bounded
        |FROM documents
        |WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) >= 1""".stripMargin,
    "sample_stratified" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts FROM documents),
         |h AS (SELECT doc_id, text,
         |  len(list_filter(ts, x -> x IN ${sqlList(stopEn)})) AS en_hits,
         |  len(list_filter(ts, x -> x IN ${sqlList(stopEs)})) AS es_hits,
         |  len(list_filter(ts, x -> x IN ${sqlList(stopDe)})) AS de_hits,
         |  len(list_filter(ts, x -> x IN ${sqlList(stopFr)})) AS fr_hits
         | FROM t),
         |l AS (SELECT doc_id, text,
         |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
         |   WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |   WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
         |   WHEN fr_hits > 0 THEN 'fr' ELSE 'unknown' END AS lang_pred
         | FROM h)
         |SELECT doc_id, lang_pred FROM l
         |WHERE lang_pred <> 'en' OR substr(md5('strat:' || text), 1, 2) < '80'
         |ORDER BY doc_id""".stripMargin,
    "corpus_mix" -> {
      val values = DefaultMixWeights.toSeq.sortBy(_._1)
        .map { case (l, wt) => s"('$l', CAST($wt AS DOUBLE))" }.mkString(", ")
      s"""WITH w(lang, w) AS (VALUES $values),
         |n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY lang),
         |r AS (SELECT n.lang, n_s, w FROM n JOIN w USING (lang)),
         |t AS (SELECT min(n_s / w) AS t FROM r),
         |caps AS (SELECT lang,
         |   CAST(floor(256 * least(CAST(1.0 AS DOUBLE), w * t.t / n_s) + 1e-6) AS INT) AS cap
         |  FROM r CROSS JOIN t)
         |SELECT d.doc_id, d.lang FROM documents d JOIN caps USING (lang)
         |WHERE cap >= 256 OR substr(md5('mix:' || text), 1, 2) < printf('%02x', cap)
         |ORDER BY doc_id""".stripMargin
    },
    "corpus_mix_tokens" -> {
      val values = DefaultMixWeights.toSeq.sortBy(_._1)
        .map { case (l, wt) => s"('$l', CAST($wt AS DOUBLE))" }.mkString(", ")
      s"""WITH w(lang, w) AS (VALUES $values),
         |t0 AS (SELECT lang,
         |   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS nt
         |  FROM documents),
         |n AS (SELECT lang, CAST(sum(nt) AS DOUBLE) AS n_s FROM t0 GROUP BY lang),
         |r AS (SELECT n.lang, n_s, w FROM n JOIN w USING (lang)),
         |t AS (SELECT min(n_s / w) AS t FROM r),
         |caps AS (SELECT lang,
         |   CAST(floor(256 * least(CAST(1.0 AS DOUBLE), w * t.t / n_s) + 1e-6) AS INT) AS cap
         |  FROM r CROSS JOIN t)
         |SELECT d.doc_id, d.lang FROM documents d JOIN caps USING (lang)
         |WHERE cap >= 256 OR substr(md5('mixTok:' || text), 1, 2) < printf('%02x', cap)
         |ORDER BY doc_id""".stripMargin
    },
    "corpus_mix_temperature" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY lang),
        |m AS (SELECT min(n_s) AS n_min FROM n),
        |caps AS (SELECT lang,
        |   CAST(floor(256 * pow(m.n_min / n_s, 1.0 - 0.3) + 1e-6) AS INT) AS cap
        |  FROM n CROSS JOIN m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN caps USING (lang)
        |WHERE cap >= 256 OR substr(md5('mixT:' || text), 1, 2) < printf('%02x', cap)
        |ORDER BY doc_id""".stripMargin,
    "corpus_upsample" ->
      s"""WITH $upsampleCtes
         |SELECT doc_id, lang, copy_id FROM copies
         |ORDER BY doc_id, copy_id""".stripMargin,
    "shuffle_shards_upsampled" ->
      s"""WITH $upsampleCtes,
         |b AS (SELECT doc_id, copy_id,
         |   md5('shuffle:0:' || doc_id || ':' || copy_id) AS ok FROM copies),
         |h AS (SELECT doc_id, copy_id, ok,
         |  ((CASE WHEN substr(ok, 1, 1) >= 'a' THEN ascii(substr(ok, 1, 1)) - 87
         |         ELSE ascii(substr(ok, 1, 1)) - 48 END) * 16
         |   + (CASE WHEN substr(ok, 2, 1) >= 'a' THEN ascii(substr(ok, 2, 1)) - 87
         |          ELSE ascii(substr(ok, 2, 1)) - 48 END)) % 8 AS shard
         | FROM b)
         |SELECT doc_id, copy_id, CAST(shard AS BIGINT) AS shard,
         | CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id, copy_id) AS BIGINT) AS pos
         |FROM h ORDER BY shard, pos""".stripMargin,
    "decontam_fuzzy" ->
      s"""WITH $decontamCtes,
         |tr AS (SELECT doc_id, nsh AS n1, s FROM ex WHERE split = 'train'),
         |te AS (SELECT doc_id AS test_id, nsh AS n2, s FROM ex WHERE split = 'test'),
         |p AS (SELECT tr.doc_id, te.test_id, count(*) AS inter,
         |   any_value(n1) AS n1, any_value(n2) AS n2
         |  FROM tr JOIN te ON tr.s = te.s GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near_dup_test_docs,
         | max(round(inter * 1.0 / (n1 + n2 - inter), 6)) AS max_jaccard
         |FROM p WHERE inter * 1.0 / (n1 + n2 - inter) >= CAST(0.8 AS DOUBLE)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "decontam_semantic" ->
      """WITH sp AS (SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'validation'
        |       ELSE 'test' END AS split FROM documents),
        |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |tr AS (SELECT sp.doc_id, v FROM sp JOIN e USING (doc_id) WHERE split = 'train'),
        |te AS (SELECT sp.doc_id AS test_id, v AS vt FROM sp JOIN e USING (doc_id) WHERE split = 'test'),
        |hits AS (SELECT tr.doc_id,
        |   round(list_cosine_similarity(tr.v, te.vt), 6) AS cos_sim
        |  FROM tr CROSS JOIN te)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_test_hits, max(cos_sim) AS max_cos
        |FROM hits WHERE cos_sim >= CAST(0.4 AS DOUBLE)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "decontam_ngram" ->
      s"""WITH $decontamCtes,
         |tr AS (SELECT doc_id, s FROM ex WHERE split = 'train'),
         |te AS (SELECT doc_id AS test_id, s FROM ex WHERE split = 'test')
         |SELECT tr.doc_id, count(DISTINCT te.test_id) AS n_test_docs,
         | count(DISTINCT tr.s) AS n_shared_shingles
         |FROM tr JOIN te ON tr.s = te.s
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "decontam_bloom" ->
      s"""WITH $decontamCtes,
         |tr AS (SELECT doc_id, s FROM ex WHERE split = 'train'),
         |te AS (SELECT DISTINCT s FROM ex WHERE split = 'test')
         |SELECT tr.doc_id, count(*) AS n_shared_shingles
         |FROM tr JOIN te ON tr.s = te.s
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "tfidf_topterms" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |   string_split_regex(regexp_replace(text, '[^0-9a-zA-Z\s]', '', 'g'), '\s+'),
        |   x -> x <> '')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.word, tf.tf, dfx.df,
        |   round(tf.tf * ln(n.n_docs * 1.0 / dfx.df), 6) AS score
        |  FROM tf JOIN dfx ON tf.word = dfx.word CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score DESC, word) AS rk FROM s)
        |SELECT doc_id, word, tf, df, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, score DESC, word""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        | FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        | CAST(floor(start_offset / 2048.0) AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin)
}
