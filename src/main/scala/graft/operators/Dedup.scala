package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Deduplication for large-scale training-data pipelines (SURVEY.md §2.3),
  * over the `documents` and `embeddings` tables.
  *
  * Scale rules (100 TB):
  *  - NEVER materialize O(n²): candidate pairs come from inverted-index
  *    joins — shingle equality (`dedup_ngram_jaccard`), LSH band equality
  *    (`dedup_minhash_lsh`), 16-bit block equality (`dedup_simhash`) —
  *    so pair generation is bounded by colliding keys, not |docs|².
  *  - Exact verification of a candidate pair touches only the two docs'
  *    bounded shingle sets (array_intersect on collected arrays).
  *  - The one intentionally-exhaustive op, `dedup_embedding`, broadcasts
  *    the (tiny relative to text) vector corpus and streams partitions
  *    against it — the brute-force kernel every ANN system uses as its
  *    verify path. Past ~1M vectors switch to `ann_lsh_topk`-style
  *    bucketed candidates; documented divergence, not an accident.
  */
object Dedup {

  /** Whitespace tokens (non-empty), as in wc_maple's splitting. */
  private def toks(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** The default Jaccard near-dup threshold, shared by every pair
    * generator here AND by [[graft.operators.Snapshot]]'s incremental
    * closure — the closure must traverse the SAME edge predicate the
    * ledger's pair join applies, so both sides name this constant
    * instead of repeating the literal.
    */
  val DefaultThreshold = 0.8

  /** Plant moduli the containment `_check` twins share with their
    * DuckDB oracles — ONE definition each (the `labelSql` discipline,
    * VERDICT r12 #3): the twin re-adds every `mod`-th row under an
    * offset id and the oracle builds the identical augmented relation,
    * so a drifted copy would silently decouple the planted-duplicate
    * set from the invariant the oracle checks. */
  private[graft] val SimhashPlantMod = 50
  private[graft] val SemanticPlantMod = 20

  /** doc_id + distinct word-n-gram shingle set as STRINGS (user-facing;
    * docs with < n tokens are dropped — they have no n-shingle).
    */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(0), size(col("ts")) - lit(n)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("ts"), i + lit(k + 1))): _*)
        )).as("shingles"))

  /** doc_id + distinct 64-bit shingle HASHES via the native fused
    * [[graft.functions.ShingleHashesExpr]] loop — what every dedup op
    * joins on. One codegen'd pass per document instead of five
    * interpreted higher-order passes; values identical to
    * xxhash64(space-joined shingle) of [[shingleSets]].
    */
  def shingleHashSets(docs: DataFrame, n: Int = 3): DataFrame =
    Tables.spread(docs) // hashing dominates; without this a 1-split corpus shingles in ONE task
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.shingleHashes(col("text"), n).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Exact dedup: hash the full text, keep the min doc_id per hash group.
    * One scan + one shuffle on the 128-bit hash; at 100 TB this is the
    * cheapest possible formulation (map-side partial agg collapses
    * duplicates before the shuffle).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("keep_id"))

  /** Word-3-gram Jaccard near-dup pairs (inverted-index formulation):
    * explode shingles → self-join on shingle equality (doc_id_1 < doc_id_2)
    * → |intersection| per pair → Jaccard = inter / (n1 + n2 - inter).
    * The join shuffles on `shingle`, so cost is Σ df(shingle)² — bounded
    * by shingle selectivity, never |docs|².
    *
    * `maxShingleDf`: skew guard for adversarial corpora — drop shingles
    * whose document frequency exceeds the cap before the self-join
    * (boilerplate shingles shared by k docs contribute k² pair rows; a
    * df cap bounds the hottest key). Off by default here because the
    * exact oracle requires the uncapped join; **at 100 TB the cap IS the
    * default recipe**: web corpora carry shared headers/footers whose
    * shingles have df in the millions, and one such shingle alone would
    * shuffle df² pair rows. Run with `maxShingleDf ≈ 1000`: pairs missed
    * are only those whose overlap is mostly ultra-common boilerplate
    * (near-dups by Jaccard ≥0.8 share rarer shingles too). n1/n2 stay
    * the FULL set sizes while `inter` counts only surviving shingles, so
    * the capped jaccard is a LOWER BOUND — emitted pairs are true
    * ≥-threshold pairs, and a borderline pair's exact value is recovered
    * by re-verifying the candidate against its two full shingle sets
    * (the [[minhashLsh]] verify join does exactly this). DedupSpec pins
    * the bound: a 20-doc boilerplate corpus emits C(20,2)=190 pairs
    * uncapped, 0 capped at df=5.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = DefaultThreshold, n: Int = 3,
                   maxShingleDf: Option[Int] = None): DataFrame =
    // one materialized shingle pass feeding BOTH sides of the pair
    // self-join (the kernel is the dominant cost and would otherwise run
    // twice). persist, NOT localCheckpoint: the returned frame is lazy,
    // so there is no post-materialization point to unpersist at — and an
    // unreleased checkpoint pins its blocks until a driver GC (maybe
    // never), while an unreleased CACHE block is LRU-evictable with the
    // lineage intact to recompute. Composite callers (dedupClusters,
    // cleanCorpus) persist their own shared pass and DO unpersist.
    ngramJaccardPairs(shingleHashSets(docs, n).persist(), threshold, maxShingleDf)
      .orderBy(col("doc_id_1"), col("doc_id_2"))

  /** The LENGTH-filter join predicate shared by the pair self-join and
    * the incremental closure's frontier join (ONE definition — a
    * drifted second copy could split the closure's edge set from the
    * ledger's at exact boundaries): jac = inter/(n1+n2−inter) ≤
    * min(n1,n2)/max(n1,n2), so a pair whose size ratio is under the
    * threshold can never pass the exact filter — its candidate rows
    * are dropped INSIDE the join instead of riding through the
    * per-pair aggregation shuffle (on skewed real corpora most
    * cross-size boilerplate collisions die here; measured −62% on the
    * sf1 closure's dominant round). Division form deliberately
    * mirrors the jac expression: round-to-nearest is monotone, so the
    * double size bound can never contradict the double jac at the
    * threshold boundary (a t·n2 multiplication CAN round just above
    * an integer n1 at an exact 4/5 boundary and silently drop a true
    * pair — DedupSpec pins it). Columns `n1`/`n2` must be in scope.
    */
  private[operators] def sizeRatioOk(threshold: Double): org.apache.spark.sql.Column =
    least(col("n1"), col("n2")) * lit(1.0) / greatest(col("n1"), col("n2")) >= threshold

  /** The `maxShingleDf` HOT set of a posting relation (any relation
    * with one row per doc × distinct shingle, shingle in `s`):
    * shingles whose document frequency STRICTLY exceeds the cap. ONE
    * definition of the boundary for the batch pair join, the capped
    * incremental overload's prior-hot derivation and the streaming
    * loop's hot(0) bootstrap (r15 review: the predicate had grown four
    * hand-rolled copies). */
  private[graft] def hotShingles(postings: DataFrame, maxDf: Int): DataFrame =
    postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("s"))

  /** The pair-join core of [[ngramJaccard]] over a PRE-SHINGLED input
    * (`doc_id`, `shingles` from [[shingleHashSets]]) and WITHOUT the
    * user-facing global sort. Composite operators (near-dup clustering,
    * the cleaning pipeline) call this directly so they can persist one
    * shingle pass across the self-join's two sides and never pay an
    * ordering their downstream consumers (CC, anti-join) would destroy
    * anyway.
    */
  private[operators] def ngramJaccardPairs(shingled: DataFrame, threshold: Double = DefaultThreshold,
                                           maxShingleDf: Option[Int] = None): DataFrame =
    // Join on the 64-bit shingle hash, not the shingle string: identical
    // pair counts (collision odds ~|shingles|²/2⁶⁴) but the shuffle
    // moves 8-byte keys instead of ~25-byte strings and the sort-merge
    // compares longs — measured 7× faster at sf0.1.
    ngramJaccardPairsFromPostings(shingled
      .select(col("doc_id"), size(col("shingles")).as("nsh"),
        explode(col("shingles")).as("s")), threshold, maxShingleDf)

  /** [[ngramJaccardPairs]] over an ALREADY-EXPLODED posting relation
    * (`doc_id`, `nsh`, `s` — [[graft.operators.Snapshot.postings]]'
    * exact shape): for a caller whose postings already EXIST (the
    * streamed clean loop's bootstrap epoch just wrote its arrival's
    * posting delta to the chain), reading the scalar rows back is far
    * cheaper than re-running the tokenize+shingle kernel over the
    * text a second time (VERDICT r15 #6 — the bootstrap shared-pass
    * lever). */
  private[graft] def ngramJaccardPairsFromPostings(exAll: DataFrame,
                                                   threshold: Double = DefaultThreshold,
                                                   maxShingleDf: Option[Int] = None): DataFrame = {
    val ex = maxShingleDf match {
      case Some(cap) =>
        exAll.join(broadcast(hotShingles(exAll, cap)), Seq("s"), "left_anti")
      case None => exAll
    }
    val a = ex.select(col("doc_id").as("doc_id_1"), col("nsh").as("n1"), col("s"))
    // the right side renames the key: both sides share ex's lineage, and
    // a shared-attribute a("s") === b("s") predicate trips Spark's
    // trivially-true-predicate WARN on every run (VERDICT r15 cosmetic —
    // Spark resolved it correctly, but the noise outlives the code)
    val b = ex.select(col("doc_id").as("doc_id_2"), col("nsh").as("n2"), col("s").as("s2"))
    val jac = col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter"))
    a.join(b, col("s") === col("s2") && col("doc_id_1") < col("doc_id_2") &&
      sizeRatioOk(threshold))
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      .agg(count(lit(1)).as("inter"), first(col("n1")).as("n1"), first(col("n2")).as("n2"))
      .filter(jac >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"), round(jac, 6).as("jaccard"))
  }

  /** MinHash signatures: (doc_id, sig array<double> of numPerms mins),
    * m_i = min over the doc's shingles of permutation i. Permutations
    * use the standard two-hash affine combination h1 + i·h2
    * (Broder-style — what Spark MLlib's MinHashLSH does too). The
    * mult-add runs in DOUBLE: a 64-bit wrap would trip ANSI overflow
    * checks, and min-wise hashing only needs a deterministic uniform
    * order, which 52 mantissa bits provide.
    *
    * Computed by the native fused [[graft.functions.MinHashSigExpr]]
    * loop — PURE MAP WORK over the shingled scan: the former explode +
    * 128-grouped-min formulation (spec-pinned bit-identical, DedupSpec)
    * shuffled |docs|×128 partial mins through a hash-agg; this shape
    * shuffles nothing, which at 100 TB removes the signature stage's
    * exchange entirely.
    */
  def minhashSignatures(shingled: DataFrame, numPerms: Int = 128): DataFrame =
    shingled
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.minhashSig(col("shingles"), numPerms).as("sig"))
      .filter(col("sig").isNotNull)

  /** MinHash + LSH banding near-dup pairs. 128 perms in 16 bands × 8 rows:
    * a pair with Jaccard j collides in ≥1 band with prob 1-(1-j⁸)¹⁶
    * (≈0.95 at j=0.8, ≈0.9999 at j=0.9). Candidates come from a self-join
    * on (band_id, band_hash) — the LSH inverted index — then are verified
    * with EXACT Jaccard over the two shingle sets, so emitted pairs are
    * true near-dups (LSH affects recall only, never precision).
    */
  def minhashLsh(docs: DataFrame, threshold: Double = DefaultThreshold,
                 numPerms: Int = 128, bands: Int = 16,
                 maxBandDf: Option[Int] = None): DataFrame =
    // one materialized shingle pass: the signature path and the two
    // verify-join sides otherwise each re-run the kernel (3x the
    // dominant cost); see ngramJaccard for the persist-not-checkpoint
    // rationale (evictable cache vs pinned-until-GC blocks)
    minhashLshPairs(shingleHashSets(docs).persist(), threshold, numPerms, bands, maxBandDf)

  /** The LSH band-bucket relation for a signature relation — one row
    * per (doc, band): `(doc_id, band_id, band_hash)`, band_hash =
    * xxhash64 over the band's `numPerms / bands` signature positions.
    * This IS the inverted index behind [[minhashLsh]]'s candidate join,
    * factored out so [[graft.streaming.Events.ingestNearDup]] can
    * MAINTAIN it as stored per-epoch state (append each arrival batch's
    * rows — O(|batch|·bands)) instead of recomputing corpus-wide bands
    * per snapshot.
    */
  private[graft] def bandRows(sig: DataFrame, numPerms: Int = 128, bands: Int = 16): DataFrame = {
    val rows = numPerms / bands
    sig.select(col("doc_id"), explode(array(
      (0 until bands).map(b => struct(
        lit(b).as("band_id"),
        xxhash64((b * rows until (b + 1) * rows)
          .map(i => element_at(col("sig"), i + 1)): _*).as("band_hash"))): _*
    )).as("band")).select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** LSH candidate pairs: rows of `probe` colliding with rows of
    * `index` on (band_id, band_hash) across distinct docs, as distinct
    * (smaller `a`, larger `b`) id pairs. The batch self-join passes the
    * same banded relation on both sides;
    * [[graft.streaming.Events.ingestNearDup]] probes its delta-sized
    * batch bands against the STORED index chain. A hash join on the
    * band key — broadcast while the probe side is small, shuffled-hash
    * when an arrival is genuinely huge (AQE's call; either way the
    * exchange is bounded by the INDEX width, ~24 B/row, never corpus
    * text).
    */
  private[graft] def nearDupCandidates(probe: DataFrame, index: DataFrame): DataFrame =
    probe.as("x").join(index.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()

  /** Exact-Jaccard verification of candidate `(a, b)` pairs against a
    * shingle-set relation (doc_id, shingles): emits (a, b, jaccard) at
    * or over `threshold` — THE verify math of [[minhashLshPairs]] AND
    * the streaming ingest, one definition (an edit to the rounding or
    * the score algebra in a lone copy would silently split the batch
    * relation, the streamed twin, and their shared oracle). When the
    * candidate relation is delta-sized (the streaming path), AQE
    * broadcasts it into both lookups and the shingle store scan never
    * shuffles — PlanSpec pins the shape.
    */
  private[graft] def nearDupVerify(cand: DataFrame, shingled: DataFrame,
                                   threshold: Double = DefaultThreshold): DataFrame = {
    val jac = col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter"))
    cand
      .join(shingled.select(col("doc_id").as("a"), col("shingles").as("s1")), "a")
      .join(shingled.select(col("doc_id").as("b"), col("shingles").as("s2")), "b")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("n1", size(col("s1"))).withColumn("n2", size(col("s2")))
      .filter(jac >= threshold)
      .select(col("a"), col("b"), round(jac, 6).as("jaccard"))
  }

  /** The `maxBandDf` HOT set of an LSH band relation (one row per doc ×
    * band, keys `band_id`/`band_hash`): buckets whose document frequency
    * STRICTLY exceeds the cap — [[hotShingles]]' boundary predicate
    * applied to the band inverted index (VERDICT r15 #2: a templated
    * corpus floods whole signature bands, and the candidate join's cost
    * is Σ|bucket|² — the same df² bound the shingle cap exists for).
    * ONE definition of the boundary for the batch pair join, the capped
    * verdict twin and the streaming loop's crossing machinery. */
  private[graft] def hotBandBuckets(banded: DataFrame, maxDf: Int): DataFrame =
    banded.groupBy(col("band_id"), col("band_hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("band_id"), col("band_hash"))

  /** [[minhashLshPairs]]' candidate+verify tail over a PRE-BANDED
    * relation — factored out so the capped check can run the capped and
    * uncapped joins off ONE persisted band pass (and release it
    * deterministically at its 1-row materialization point). */
  private[operators] def lshPairsFromBanded(banded: DataFrame, shingled: DataFrame,
                                            threshold: Double): DataFrame =
    nearDupVerify(nearDupCandidates(banded, banded), shingled, threshold)
      .select(col("a").as("doc_id_1"), col("b").as("doc_id_2"), col("jaccard"))

  /** Anti-join a band relation against its own HOT buckets — the capped
    * join's one shared shape (broadcast hot set, bucket-level drop). */
  private[graft] def coldBands(banded: DataFrame, maxDf: Int): DataFrame =
    banded.join(broadcast(hotBandBuckets(banded, maxDf)),
      Seq("band_id", "band_hash"), "left_anti")

  /** The banding + exact-verify core of [[minhashLsh]] over a
    * PRE-SHINGLED (and ideally persisted) input — shared with
    * [[minhashLshCheck]], which reuses the same pass for the exact side.
    */
  private[operators] def minhashLshPairs(shingled: DataFrame, threshold: Double = DefaultThreshold,
                                         numPerms: Int = 128, bands: Int = 16,
                                         maxBandDf: Option[Int] = None): DataFrame = {
    val bandedAll = bandRows(minhashSignatures(shingled, numPerms), numPerms, bands)
    // capped arm: drop band rows in HOT buckets before the candidate
    // self-join — candidate rows of flooded buckets die in a broadcast
    // anti-join instead of fanning out |bucket|² pair rows. Recall-only
    // (a pair survives via any cold shared band; the exact verify is
    // unchanged, so precision stays 1.0 by construction). Deliberately
    // NOT cached: the returned frame is lazy, so a persist here would
    // have no release point and every capped call would pin a
    // corpus-wide band cache forever (r16 review) — the hot aggregate
    // re-runs the signature kernel over the caller's persisted shingle
    // pass instead. BOTH perf-sensitive capped callers manage their
    // own band pass and release it ([[minhashLshCappedCheck]] at its
    // 1-row materialization, [[minhashNearDupVerdict]]'s capped arm at
    // its eager pair checkpoint); only the spec-only public
    // `minhashLsh(maxBandDf)` path pays the re-run.
    val banded = maxBandDf match {
      case Some(cap) => coldBands(bandedAll, cap)
      case None => bandedAll
    }
    lshPairsFromBanded(banded, shingled, threshold)
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  /** Per-doc near-dup INGEST verdict over the [[minhashLsh]] criterion
    * — the batch twin of [[graft.streaming.Events.ingestNearDup]]: a
    * doc is KEPT iff no smaller-id doc is an LSH-candidate near-dup
    * (exact Jaccard ≥ threshold — the keep-min-id rule of
    * `dedup_exact`, applied over the sketch pair relation); dropped
    * docs carry their MIN-id verified partner and that pair's jaccard.
    * The minhash perms are fixed hashes, so the relation is a
    * deterministic function of the corpus — which is what lets the
    * streamed, index-maintained twin be pinned EQUAL to this one
    * (StreamingSpec) even though neither is portable SQL.
    *
    * Deliberately the min-NEIGHBOR rule, not connected components: a
    * doc's verdict depends only on its own verified neighbor set, so a
    * new arrival can only LOWER a doc's partner (monotone min). That
    * locality is what makes the streaming maintenance O(blast radius)
    * with no BFS; cluster-transitive dedup is `dedup_clusters` /
    * `pipe_clean_corpus`'s job.
    */
  def minhashNearDupVerdict(docs: DataFrame, threshold: Double = DefaultThreshold,
                            maxBandDf: Option[Int] = None,
                            scope: Scope = Scope.session): DataFrame = {
    // one shingle pass for signatures + both verify sides (see
    // ngramJaccard for the persist-not-checkpoint rationale)
    val shingled = shingleHashSets(docs).persist()
    // capped arm: own the band pass (the hot aggregate plus the two
    // candidate-join sides would otherwise each re-run the 128-perm
    // kernel — r16 review) and release it at an eager pair-sized
    // checkpoint, since the lazily-returned verdict has no later
    // release point within this call. The checkpoint itself is the
    // returned verdict's input, so it must OUTLIVE the call: it is kept
    // in `scope` (the connectedComponents discipline, ADVICE r16) — a
    // repeat caller (soak gates, spec reruns) passes a scope that
    // releases it once the verdict is consumed; a one-shot caller
    // leaves the single pair-sized block set to the session.
    val pairs = maxBandDf match {
      case Some(cap) => scope.around { s =>
        val banded = s.persist(bandRows(minhashSignatures(shingled)))
        s.keep(s.checkpoint(lshPairsFromBanded(coldBands(banded, cap), shingled, threshold)))
      }
      case None => minhashLshPairs(shingled, threshold)
    }
    val best = pairs.groupBy(col("doc_id_2").as("doc_id"))
      .agg(min(col("doc_id_1")).as("partner_id"),
        min_by(col("jaccard"), col("doc_id_1")).as("jaccard"))
    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("partner_id").isNull.as("keep"),
        col("partner_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Containment verdict for [[minhashLsh]] — the oracle-checkable form
    * of a hash-seeded sketch op (VERDICT r5 #7). The LSH signature
    * itself is not portable SQL, but the EMITTED relation has two exact
    * properties SQL can pin: every emitted pair must be in the exact
    * Jaccard relation with the IDENTICAL jaccard value (the verify join
    * makes precision 1.0 by construction), and recall against the exact
    * relation must clear the spec floor (banding math: ≥0.95 expected at
    * j=0.8 with 16×8 bands). This query full-outer-joins the LSH output
    * against [[ngramJaccard]]'s and aggregates those invariants into one
    * row the DuckDB oracle reproduces from the exact pairs CTE alone:
    * `n_false_pairs`/`n_jaccard_mismatch` MUST be 0 and `recall_ok`
    * MUST be true (oracle constants), while `n_exact_pairs` ties the
    * verdict to the real data. Any precision break, score drift, or
    * recall collapse hash-mismatches the row.
    */
  def minhashLshCheck(docs: DataFrame, threshold: Double = DefaultThreshold,
                      recallFloor: Double = 0.9): DataFrame = Tables.verdict { s =>
    // ONE shingle pass feeds the sketch path AND the exact side — the
    // kernel is the dominant cost and the whole point of the check is
    // comparing the two paths over identical shingle sets
    val shingled = s.persist(shingleHashSets(docs))
    val lsh = minhashLshPairs(shingled, threshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("lsh_jaccard"))
    val exact = ngramJaccardPairs(shingled, threshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("exact_jaccard"))
    val both = col("lsh_jaccard").isNotNull && col("exact_jaccard").isNotNull
    lsh.join(exact, Seq("doc_id_1", "doc_id_2"), "full_outer")
      .agg(
        count(col("exact_jaccard")).as("n_exact_pairs"),
        coalesce(sum(when(col("lsh_jaccard").isNotNull && col("exact_jaccard").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_false_pairs"),
        coalesce(sum(when(both && col("lsh_jaccard") =!= col("exact_jaccard"), 1L)
          .otherwise(0L)), lit(0L)).as("n_jaccard_mismatch"),
        (coalesce(sum(when(both, 1L).otherwise(0L)), lit(0L)) >=
          lit(recallFloor) * count(col("exact_jaccard"))).as("recall_ok"))
  }

  /** `maxBandDf` cap the capped LSH queries and the streamed capped
    * loop share (interpolation-safe: the check's oracle plants a flood
    * of [[BandFloodCopies]] template replicas, so a bucket holding the
    * template's text reaches df = copies+1 > cap and MUST go hot).
    * Deliberately above any real band-bucket df in the test corpora —
    * real near-dup clusters are ≤ a handful of docs — so the cap's
    * only bite is the planted flood and the uncapped recall floor
    * carries over to the cold remainder. */
  private[graft] val BandCapDf = 8
  private[graft] val BandFloodCopies = BandCapDf + 2

  /** The corpus's deterministic template — the 1-row `text` relation
    * [[templateFlood]] replicates (exposed so a caller needing both
    * the flood and the template's text derives the scan once). */
  private[graft] def templateText(docs: DataFrame): DataFrame = {
    val nTok = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
    docs.filter(nTok >= 3).orderBy(col("doc_id")).limit(1).select(col("text"))
  }

  /** A planted TEMPLATE FLOOD: `copies` byte-identical replicas of the
    * corpus's deterministic template doc (min doc_id among docs with ≥3
    * whitespace tokens — the shingleable minimum), ids shifted past
    * max(doc_id). Identical text ⇒ identical minhash signatures ⇒ every
    * band bucket holding one flood member holds ALL of them — exactly
    * the boilerplate skew `maxBandDf` exists for, and reproducible in
    * DuckDB (the capped check's oracle builds the same flood). Shared
    * by [[minhashLshCappedCheck]], the streamed capped staging and the
    * specs' non-vacuity meters — one definition of "the flood". */
  private[graft] def templateFlood(docs: DataFrame, copies: Int): DataFrame =
    templateText(docs)
      .crossJoin(broadcast(docs.agg(max(col("doc_id")).as("mx"))))
      .select(explode(sequence(lit(1L), lit(copies.toLong))).as("i"),
        col("text"), col("mx"))
      .select((col("mx") + col("i")).as("doc_id"), col("text"))

  /** Oracle-checkable contract of the `maxBandDf`-capped LSH (VERDICT
    * r15 #2) over a flood-augmented corpus: base docs plus
    * [[BandFloodCopies]] replicas of the template doc. The planted
    * flood makes the cap's bite DATA-INDEPENDENT, so every invariant
    * below is a DuckDB constant:
    *
    *  - `n_exact_pairs` — exact-Jaccard pairs over the augmented corpus
    *    (real value, ties the row to the data);
    *  - `n_false_pairs` / `n_jaccard_mismatch` — the exact verify is
    *    unchanged by the cap: precision 1.0, identical scores (0/0);
    *  - `n_plant_pairs_emitted` — every band bucket holding a
    *    template-text doc holds all copies+1 of them (identical
    *    signatures), so every such bucket is hot and NO pair touching
    *    the flood survives the capped join (0);
    *  - `cap_binds` — the UNCAPPED join emits the flood's pairs
    *    (identical signatures collide with probability 1), so capped <
    *    uncapped strictly: the non-vacuity meter, in the oracle row;
    *  - `recall_ok` — capped recall over the exact pairs NOT touching
    *    the template's text group. Floor 0.85, below the uncapped 0.9:
    *    a pair of near-dups that are BOTH near the template can lose
    *    its every shared band to the flood's buckets, so a real-pair
    *    casualty adjacent to the template is possible by design.
    */
  def minhashLshCappedCheck(docs: DataFrame, threshold: Double = DefaultThreshold,
                            maxBandDf: Int = BandCapDf,
                            recallFloor: Double = 0.85): DataFrame = Tables.verdict { s =>
    val base = docs.select(col("doc_id"), col("text"))
    val aug = base.unionByName(templateFlood(docs, BandFloodCopies))
    val shingled = s.persist(shingleHashSets(aug))
    // ONE band pass feeds the capped and the uncapped joins (the
    // signature kernel is the dominant cost), and the two PAIR
    // relations are persisted too — each is consumed by several
    // verdict aggregates below, and an uncached reference would re-run
    // its candidate+verify (or inverted-index) joins per consumer
    // (r16 review: ~4× the necessary join cost). All released once the
    // 1-row verdict is collected.
    val banded = s.persist(bandRows(minhashSignatures(shingled)))
    val capped = s.persist(lshPairsFromBanded(coldBands(banded, maxBandDf), shingled, threshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("capped_jaccard")))
    val uncapped = lshPairsFromBanded(banded, shingled, threshold)
      .select(col("doc_id_1"), col("doc_id_2"))
    val exact = s.persist(ngramJaccardPairs(shingled, threshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard").as("exact_jaccard")))
    // the template's text GROUP (flood members + the template + any
    // natural byte-dups of it) — the ids whose pairs the cap drops;
    // the template scan is derived once (shared with the flood above)
    val tmplIds = aug.join(broadcast(templateText(docs)), Seq("text"), "left_semi")
      .select(col("doc_id"))
    val exactNonTmpl = exact
      .join(tmplIds.select(col("doc_id").as("doc_id_1")), Seq("doc_id_1"), "left_anti")
      .join(tmplIds.select(col("doc_id").as("doc_id_2")), Seq("doc_id_2"), "left_anti")
    val cappedVsExact = capped.join(exact, Seq("doc_id_1", "doc_id_2"), "left_outer")
    cappedVsExact.agg(
        coalesce(sum(when(col("exact_jaccard").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_false_pairs"),
        coalesce(sum(when(col("exact_jaccard").isNotNull &&
          col("capped_jaccard") =!= col("exact_jaccard"), 1L).otherwise(0L)), lit(0L))
          .as("n_jaccard_mismatch"),
        coalesce(count(lit(1)), lit(0L)).as("n_capped_pairs"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact_pairs"))))
      .crossJoin(broadcast(uncapped.agg(count(lit(1)).as("n_uncapped_pairs"))))
      .crossJoin(broadcast(capped
        .join(tmplIds.select(col("doc_id").as("doc_id_1")), Seq("doc_id_1"), "left_semi")
        .unionByName(capped
          .join(tmplIds.select(col("doc_id").as("doc_id_2")), Seq("doc_id_2"), "left_semi"))
        .agg(count(lit(1)).as("n_plant_pairs_emitted"))))
      .crossJoin(broadcast(exactNonTmpl
        .join(capped.select(col("doc_id_1"), col("doc_id_2")),
          Seq("doc_id_1", "doc_id_2"), "left_semi")
        .agg(count(lit(1)).as("n_recalled"))
        .crossJoin(broadcast(exactNonTmpl.agg(count(lit(1)).as("n_exact_non_tmpl"))))))
      .select(col("n_exact_pairs"), col("n_false_pairs"), col("n_jaccard_mismatch"),
        col("n_plant_pairs_emitted"),
        (col("n_capped_pairs") < col("n_uncapped_pairs")).as("cap_binds"),
        (col("n_recalled") >= lit(recallFloor) * col("n_exact_non_tmpl")).as("recall_ok"))
  }

  /** 64-bit SimHash per doc over its token multiset: bit i of the
    * signature is 1 iff Σ_tokens (bit i of xxhash64(token) ? +1 : -1) > 0.
    * Computed by the native scalar [[graft.functions.SimHashExpr]] — a
    * pure map over the scan, no explode and NO SHUFFLE at all. (The
    * equivalent explode + [[graft.functions.SimHashAgg]] aggregation
    * exists for pre-tokenized inputs; DedupSpec asserts both paths
    * produce identical signatures.) Docs with no tokens are dropped,
    * matching the grouped formulation.
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    Tables.spread(docs) // map-only op: parallelism = input splits unless fanned out
      .filter(col("text").rlike("\\S"))
      .select(col("doc_id"), graft.functions.ShingleFunctions.simhash(col("text")).as("simhash"))

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming (default 3).
    * Candidate generation is EXHAUSTIVE by pigeonhole: split the 64 bits
    * into 4 16-bit blocks — any pair within Hamming 3 agrees on ≥1 whole
    * block — and self-join on (block_id, block_value). Then filter by the
    * true bit_count(xor) distance. Inverted-index join again: never n².
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = simhashSignatures(docs)
    val blocks = sig.select(col("doc_id"), col("simhash"), explode(array(
      (0 until 4).map(b => struct(
        lit(b).as("block_id"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("block_val"))): _*
    )).as("blk")).select(col("doc_id"), col("simhash"), col("blk.block_id"), col("blk.block_val"))
    blocks.as("x").join(blocks.as("y"),
        col("x.block_id") === col("y.block_id") &&
        col("x.block_val") === col("y.block_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  /** Containment verdict for [[simhash]] — the one sketch op left
    * without an oracle-checkable companion. The signature is hash-seeded
    * (rows-only), but one invariant is exact and SQL-reproducible:
    * IDENTICAL texts hash to IDENTICAL signatures (hamming 0), so every
    * exact-duplicate pair — derivable in SQL — MUST appear in the
    * emitted ≤-maxHamming relation. The pigeonhole candidate join is
    * exhaustive at hamming 0 by construction, so `n_missed` is
    * deterministically 0; a broken signature, block join or hamming
    * filter breaks containment and hash-mismatches the row.
    *
    * The check PLANTS its duplicates: every `sampleMod`-th doc is
    * re-added under an offset id, so the invariant is exercised on
    * corpora with no natural exact dups (the small driver SFs have
    * none — an empty containment set would verify nothing). The oracle
    * builds the identical augmented relation, and natural dups simply
    * add to the planted set. (Restricted to docs with ≥1 token —
    * signature-less docs are dropped by [[simhashSignatures]], mirrored
    * in the oracle.)
    */
  def simhashCheck(docs: DataFrame, maxHamming: Int = 3,
                   sampleMod: Int = SimhashPlantMod): DataFrame = Tables.verdict { s =>
    val base = docs.filter(col("text").rlike("\\S")).select(col("doc_id"), col("text"))
    // planted ids start past the corpus's own id space — a fixed offset
    // would collide with natural ids at 100 TB id ranges, silently
    // corrupting the pair relation's id semantics and the oracle parity
    val off = base.agg(coalesce(max(col("doc_id")) + 1, lit(0L)).as("off"))
    val aug = base.unionAll(base.filter(col("doc_id") % sampleMod === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("doc_id"), col("text")))
    val groups = aug
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
    val exactPairs = s.persist(groups
      .select(explode(col("ids")).as("doc_id_1"), col("ids"))
      .select(col("doc_id_1"), explode(col("ids")).as("doc_id_2"))
      .filter(col("doc_id_1") < col("doc_id_2")))
    containmentVerdict(exactPairs, simhash(aug, maxHamming), Seq("doc_id_1", "doc_id_2"))
  }

  /** The one-row containment verdict [[simhashCheck]] and
    * [[semanticCheck]] share: `exact` is the exact-duplicate pair
    * relation, `found` the operator's emitted pairs, both keyed by
    * `keys`; `n_missed` counts the exact pairs `found` lacks. */
  private def containmentVerdict(exact: DataFrame, found: DataFrame,
                                 keys: Seq[String]): DataFrame = {
    val missed = exact.join(found.select(keys.map(col): _*), keys, "left_anti")
    exact.agg(count(lit(1)).as("n_exact_dup_pairs"))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
      .select(col("n_exact_dup_pairs"), col("n_missed"),
        (col("n_missed") === 0).as("all_found"))
  }

  /** Embedding cosine near-dup pairs (exact). Declarative broadcast
    * nested-loop over the id_a < id_b triangle, scored by the native
    * codegen'd [[graft.functions.CosineSim]] (sequential dot+norms —
    * same accumulation order as DuckDB's list_cosine_similarity, so the
    * oracle hash-matches). The broadcast side is (id, vec) only —
    * ~0.5 KB/vector, fine to ~1M vectors; past that, exact all-pairs is
    * the wrong op anyway — use the LSH/ANN candidates path. Threshold
    * 0.4 on THIS synthetic corpus (its max pairwise cosine is ≈0.51;
    * real near-dup pipelines use ~0.95).
    */
  def embeddingPairs(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
    // spread the streamed side: the broadcast nested-loop scores
    // |a|·|b| pairs in the probe-side tasks, so a 1-split probe side
    // serializes the entire O(n²·dim) kernel into one task
    val a = Tables.spread(e).select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.CosineSim.cosineSim(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------- semantic (SemDeDup)

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): k-means the embedding space into `nCells`
    * clusters, then emit exact-cosine ≥ `threshold` pairs WITHIN each
    * cluster only. [[embeddingPairs]] is the exhaustive O(n²) triangle,
    * honest to ~1M vectors; this is the shape that replaces it at corpus
    * scale — the only all-pairs work left is per-cell, so cost is
    * Σ|cell|² with `nCells` sized to bound it (SemDeDup runs 50k
    * clusters over LAION; cells scale WITH the corpus, keeping |cell|
    * roughly constant, so the default 8 here is a test-SF setting, not
    * the production one). Reuses the IVF machinery: bounded-sample Lloyd
    * trainer ([[Similarity.kmeansLite]] — a `limit` pushed to the scan,
    * never the corpus), centroids broadcast, assignment pure typed map
    * work. The within-cell self-join shuffles on the cell key only (AQE
    * splits a runaway cell) and scores with the native codegen'd
    * [[graft.functions.CosineSim]] — EXACT cosines, so precision vs the
    * exhaustive relation is 1.0 by construction and the only
    * approximation is recall (a near-dup pair split across a cell
    * boundary is missed — the documented SemDeDup trade). `nprobe` is
    * the recall lever: each vector enters its `nprobe` nearest cells
    * (soft assignment — the same multi-probe idea as the IVF query
    * path), multiplying the SHUFFLED rows by nprobe, not the corpus
    * scan; a pair found through two shared cells collapses in the final
    * `distinct`. At SemDeDup's production operating point (τ ≈ 0.95,
    * near-identical pairs co-cluster almost surely) nprobe=1 suffices;
    * this corpus's τ=0.4 pairs (cosine 0.4–0.5, only moderately
    * similar) straddle boundaries aggressively, so the default probes 4
    * of the 8 cells — recall measured 1.0 at every driver SF
    * (sf0.001/0.01/0.1) vs nprobe=1's 0.23/0.46/0.37, precision 1.0
    * (zero false pairs) in both configurations.
    *
    * Rows-only in CORRECTNESS (centroids are an iterative fixpoint, not
    * portable SQL); [[semanticCheck]] is the oracle-checked containment
    * verdict, and DedupSpec pins subset-of-exact + a recall floor vs
    * [[embeddingPairs]].
    */
  def semanticPairs(embeddings: DataFrame, threshold: Double = 0.4,
                    nCells: Int = 8, nprobe: Int = 4,
                    maxSample: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sample = Similarity.collectVecs(embeddings.limit(maxSample))
    val centroids = Similarity.kmeansLite(sample, nCells)
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = Tables.spread(Similarity.vecs(embeddings))
      .as[VecRow]
      .mapPartitions(it => it.flatMap(r =>
        Similarity.nearestCells(r.v, bc.value, nprobe).iterator.map(c =>
          (r.vec_id, c, r.v))))
      .toDF("vec_id", "cell", "v")
    assigned.select(col("cell"), col("vec_id").as("id_a"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("vec_id").as("id_b"), col("v").as("vb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.CosineSim.cosineSim(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Containment verdict for [[semanticPairs]] — same discipline as
    * [[simhashCheck]]: the clustering is an iterative fixpoint
    * (rows-only), but one invariant is exact and SQL-reproducible:
    * IDENTICAL embeddings always probe the SAME cell set
    * (`nearestCells` is a pure function of the vector) and score cosine
    * 1.0 ≥ threshold, so every exact-duplicate vector pair — derivable in SQL
    * by a self-join on embedding equality — MUST appear in the emitted
    * relation, whatever the centroids did. Plants its duplicates (every
    * `sampleMod`-th vector re-added under a data-derived id offset,
    * mirrored in the oracle) so the invariant is non-vacuous at every
    * SF: the synthetic corpus has no natural exact-dup vectors, and
    * natural ones would simply add to the planted set on both sides.
    * (All corpus embeddings are unit-norm; a zero vector would score
    * NaN against itself and break containment — real pipelines drop
    * unembeddable rows before dedup.)
    */
  def semanticCheck(embeddings: DataFrame, threshold: Double = 0.4,
                    nCells: Int = 8, sampleMod: Int = SemanticPlantMod,
                    maxSample: Int = 4096): DataFrame = Tables.verdict { s =>
    val base = embeddings.select(col("vec_id"), col("embedding"))
    // planted ids start past the corpus's own id space — a fixed offset
    // would collide with natural ids at 100 TB id ranges (same guard as
    // simhashCheck)
    val off = base.agg(coalesce(max(col("vec_id")) + 1, lit(0L)).as("off"))
    val aug = base.unionAll(base.filter(col("vec_id") % sampleMod === 0)
      .crossJoin(broadcast(off))
      .select((col("vec_id") + col("off")).as("vec_id"), col("embedding")))
    val ident = s.persist(aug.as("x").join(aug.as("y"),
        col("x.embedding") === col("y.embedding") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b")))
    containmentVerdict(ident, semanticPairs(aug, threshold, nCells, maxSample = maxSample),
      Seq("id_a", "id_b"))
  }

  // ------------------------------------------------- substring-level spans

  /** Span-level exact-substring duplication — which token ranges of each
    * doc are verbatim repeats of text occurring elsewhere in the corpus
    * (or elsewhere in the SAME doc)? This is the substring-dedup signal
    * of Lee et al.'s "Deduplicating Training Data Makes Language Models
    * Better": doc-level Jaccard misses a unique page that embeds one
    * copied paragraph, span-level catches exactly the paragraph.
    *
    * Their suffix-array formulation is a single-machine construction;
    * the shuffle-native equivalent used here: every token position emits
    * its word-`n`-gram anchor hash (positioned [[graft.functions
    * .ShingleHashSeqExpr]] — duplicates KEPT, order preserved), ONE
    * groupBy on the 64-bit anchor marks anchors occurring ≥2 times, and
    * a per-doc gaps-and-islands pass merges consecutive duplicated
    * positions into maximal spans: a repeated m-token substring (m ≥ n)
    * appears as m-n+1 consecutive duplicated anchors → one span of
    * `span_tokens` = m. Costs: one shuffle on the anchor hash (bounded
    * by corpus size, partial-agg combined map-side) + one doc_id-
    * partitioned window over only the DUPLICATED anchors (the
    * contamination, not the corpus).
    *
    * `maxAnchorDf` is the same 100 TB skew guard as
    * [[ngramJaccard]]'s: an anchor with df=k fans k rows back out of its
    * group — fine — but the collect_list buffer for a boilerplate anchor
    * with df in the millions is not; the cap drops anchors hotter than
    * it BEFORE the group, splitting long boilerplate spans at the cost
    * of missing only ultra-common text. `minSpanTokens` keeps spans at
    * or above a length floor (Lee et al. use 50; default emits all).
    */
  def substringSpans(docs: DataFrame, n: Int = 5, minSpanTokens: Int = 0,
                     maxAnchorDf: Option[Int] = None): DataFrame = {
    val anchorsRaw = Tables.spread(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleFunctions.shingleHashSeq(col("text"), n)))
      .withColumnRenamed("col", "h")
    // with a df cap the anchor relation feeds TWO consumers (the hot-key
    // count and the anti-joined main path) — persist so the positioned-
    // shingle kernel runs once, not twice (evictable, lineage intact)
    val anchors = if (maxAnchorDf.isDefined) anchorsRaw.persist() else anchorsRaw
    val capped = maxAnchorDf match {
      case Some(cap) =>
        val hot = anchors.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("h"))
        anchors.join(broadcast(hot), Seq("h"), "left_anti")
      case None => anchors
    }
    val dup = capped.groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
      .filter(size(col("occ")) >= 2)
      .select(explode(col("occ")).as("o"))
      .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
    import org.apache.spark.sql.expressions.Window
    val runs = dup.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    runs.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(n)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> ((s, d) => substringSpans(Tables.documents(s, d))),
    "dedup_exact" -> ((s, d) => exact(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(Tables.documents(s, d))),
    "dedup_minhash_lsh" -> ((s, d) => minhashLsh(Tables.documents(s, d))),
    "dedup_minhash_lsh_check" -> ((s, d) => minhashLshCheck(Tables.documents(s, d))),
    "dedup_minhash_lsh_capped_check" -> ((s, d) => minhashLshCappedCheck(Tables.documents(s, d))),
    "dedup_simhash" -> ((s, d) => simhash(Tables.documents(s, d))),
    "dedup_simhash_check" -> ((s, d) => simhashCheck(Tables.documents(s, d))),
    "dedup_embedding" -> ((s, d) => embeddingPairs(Tables.embeddings(s, d))),
    "dedup_semantic" -> ((s, d) => semanticPairs(Tables.embeddings(s, d))),
    "dedup_semantic_check" -> ((s, d) => semanticCheck(Tables.embeddings(s, d))))

  /** The exact word-3-gram Jaccard pair relation as DuckDB CTEs — ONE
    * definition shared by the dedup_ngram_jaccard oracle and the
    * dedup_minhash_lsh_check containment oracle (a width/threshold edit
    * in one copy would silently split the two).
    */
  private[graft] def jaccardPairsCtesOver(table: String): String =
    s"""t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
      |  FROM $table),
      |sh AS (SELECT doc_id,
      |   list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS shingles
      |  FROM t WHERE len(ts) >= 3),
      |ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh),
      |pairs AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS inter,
      |   any_value(a.nsh) AS n1, any_value(b.nsh) AS n2
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  private[graft] val jaccardPairsCtes = jaccardPairsCtesOver("documents")

  /** DuckDB oracles. minhash/simhash signatures have none (hash-seeded,
    * not portable SQL) — driver records rows-only for the pair relations;
    * minhash additionally gets the `_check` containment oracle above, and
    * both are spec-defined against the exact-Jaccard result (DedupSpec).
    */
  val oracle: Map[String, String] = Map(
    // identical texts → identical signatures: every exact-dup pair of
    // the planted-augmented corpus must appear in the simhash relation
    // (pigeonhole is exhaustive at h=0)
    "dedup_simhash_check" ->
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE regexp_matches(text, '\\S')),
        |o AS (SELECT coalesce(max(doc_id) + 1, 0) AS off FROM b),
        |aug AS (SELECT doc_id, text FROM b
        |  UNION ALL SELECT doc_id + o.off, text FROM b CROSS JOIN o WHERE doc_id % $SimhashPlantMod = 0),
        |g AS (SELECT md5(text) AS h, count(*) AS c FROM aug GROUP BY h HAVING count(*) >= 2)
        |SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS n_exact_dup_pairs,
        | CAST(0 AS BIGINT) AS n_missed, true AS all_found
        |FROM g""".stripMargin,
    // the CAPPED sketch path's invariants over the flood-augmented
    // corpus (same flood construction as the Spark side: BandFloodCopies
    // replicas of the min-doc_id shingleable doc): zero false pairs,
    // zero score drift, zero flood pairs emitted, the cap strictly
    // binding, and recall over the floor on the non-flood remainder —
    // all constants; n_exact_pairs ties the row to the data
    "dedup_minhash_lsh_capped_check" ->
      s"""WITH t0 AS (SELECT doc_id, text,
         |   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
         |  FROM documents),
         |tmpl AS (SELECT text FROM t0 WHERE len(ts) >= 3 ORDER BY doc_id LIMIT 1),
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |aug AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT mx.mx + r.i, tmpl.text
         |   FROM tmpl, mx, range(1, ${BandFloodCopies + 1}) r(i)),
         |${jaccardPairsCtesOver("aug")},
         |kept AS (SELECT doc_id_1, doc_id_2 FROM pairs
         |  WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.8)
         |SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_pairs,
         | CAST(0 AS BIGINT) AS n_jaccard_mismatch,
         | CAST(0 AS BIGINT) AS n_plant_pairs_emitted,
         | true AS cap_binds, true AS recall_ok
         |FROM kept""".stripMargin,
    // the sketch path's exact invariants, reproduced from the exact pairs
    // alone: zero false pairs, zero score drift, recall over the floor
    "dedup_minhash_lsh_check" ->
      s"""WITH $jaccardPairsCtes,
         |kept AS (SELECT doc_id_1, doc_id_2 FROM pairs
         |  WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.8)
         |SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_pairs,
         | CAST(0 AS BIGINT) AS n_jaccard_mismatch, true AS recall_ok
         |FROM kept""".stripMargin,
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
        |a AS (SELECT doc_id, unnest(range(1, len(ts) - 3)) AS i, ts FROM t),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |  ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS ng
        | FROM a),
        |d AS (SELECT doc_id, pos FROM g
        | WHERE ng IN (SELECT ng FROM g GROUP BY ng HAVING count(*) >= 2)),
        |r AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM d)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        | CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens
        |FROM r GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardPairsCtes
         |SELECT doc_id_1, doc_id_2, round(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
         |FROM pairs WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.8
         |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    // identical embeddings → identical cells + cosine 1.0: every
    // exact-dup vector pair of the planted-augmented corpus must appear
    // in the semantic relation, independent of what k-means did
    "dedup_semantic_check" ->
      s"""WITH b AS (SELECT vec_id, embedding FROM embeddings),
        |o AS (SELECT coalesce(max(vec_id) + 1, 0) AS off FROM b),
        |aug AS (SELECT vec_id, embedding FROM b
        |  UNION ALL SELECT vec_id + o.off, embedding FROM b CROSS JOIN o WHERE vec_id % $SemanticPlantMod = 0),
        |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM aug x
        |  JOIN aug y ON x.embedding = y.embedding AND x.vec_id < y.vec_id)
        |SELECT count(*) AS n_exact_dup_pairs, CAST(0 AS BIGINT) AS n_missed, true AS all_found
        |FROM p""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)
}
