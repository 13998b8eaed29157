package graft.operators

import graft.{Scope, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-construction operators (SURVEY.md §2.8) — the steps between
  * "raw documents" and "training set" that a large-scale pipeline runs
  * after per-doc analysis (§2.5) and pair-finding (§2.3): deterministic
  * train/validation/test splits, vocabulary extraction, near-duplicate
  * CLUSTERING (pairs → canonical groups), and the end-to-end cleaning
  * pipeline that composes them.
  *
  * Scale rules:
  *  - Split assignment is content-hashed, not row-numbered: the split of
  *    a document depends only on its bytes, so re-ingesting, re-sharding
  *    or growing the corpus never moves a doc across splits (no global
  *    ordering, no shuffle — pure map work).
  *  - Vocabulary is one explode + one hash-agg shuffle with map-side
  *    combine; top-k is TakeOrderedAndProject (per-partition heaps),
  *    never a global sort of the vocab.
  *  - Connected components touch only the near-dup EDGE set (bounded by
  *    the §2.3 candidate joins) — never the corpus. Label propagation is
  *    one small join per round, diameter-bounded; lineage is truncated
  *    every round so plans stay flat.
  */
object Corpus {

  /** Driver-loop observability for the CC rounds: a production run needs
    * to SEE divergence building (changed-label counts not shrinking)
    * before the convergence guard throws, and the driver loop is the only
    * place that knows the per-round numbers.
    */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ---------------------------------------------------------------- splits

  /** Deterministic train/validation/test assignment by content hash:
    * bucket = first two hex chars of md5(text) (256 uniform buckets),
    * split boundaries at 0xcd (~80%) and 0xe6 (~10%/10%). Lexicographic
    * compare of fixed-width lowercase hex == numeric compare, and both
    * Spark and DuckDB lowercase md5, so the oracle is exact.
    */
  def sampleSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), splitBucket(col("text")).as("bucket"))
      .withColumn("split", splitOfBucket(col("bucket")))
      .orderBy(col("doc_id"))

  /** Deterministic EXACT-k corpus sample — the primitive the rate-based
    * samplers ([[sampleSplit]]'s buckets, Training's mixtures) can't
    * express: exactly `k` docs, the ones with the smallest salted
    * content hash (salt `topk:`, independent of every other decision
    * hash). Content-keyed, so the sample is stable under re-ingest /
    * re-sharding / reordering, and nearly stable under growth (a doc
    * leaves the sample only when a new doc hashes below it) — the eval
    * subset / human-inspection / debug-slice selector of a pipeline.
    *
    * Scale shape: ORDER BY hash LIMIT k plans as TakeOrderedAndProject
    * — a bounded k-heap per partition and a k-sized driver merge, no
    * global sort, no exchange of the corpus (PlanSpec pins the node).
    * k is a driver-memory knob, same bound as every top-k in the repo.
    */
  def sampleTopKHash(docs: DataFrame, k: Int = 100): DataFrame =
    docs
      .select(col("doc_id"), md5(concat(lit("topk:"), col("text")).cast("binary")).as("ok"))
      // null text → null key, and Spark sorts nulls FIRST (DuckDB last):
      // without this fence every null-body crawl row would hijack the
      // sample and the two engines would disagree on its membership
      .filter(col("ok").isNotNull)
      .orderBy(col("ok"), col("doc_id"))
      .limit(k)

  /** The content-hash bucket and bucket→split rule, exposed so other
    * operators (decontamination) can attach the split inside their own
    * scan projection instead of shuffle-joining this relation back on.
    */
  def splitBucket(text: Column): Column =
    substring(md5(text.cast("binary")), 1, 2)

  def splitOfBucket(bucket: Column): Column =
    when(bucket < "cd", "train")
      .when(bucket < "e6", "validation")
      .otherwise("test")

  // ------------------------------------------------------------ vocabulary

  /** Corpus vocabulary: term frequency + document frequency per token
    * (wc_maple sanitize semantics — /root/reference/mje/src/wc_maple.cpp:10-21
    * — strip non-alnum, split on whitespace, in one native byte pass:
    * [[graft.functions.WordTokens]]), top-k by frequency.
    * One explode feeding ONE shuffle: count and distinct-doc count come
    * from the same (word, doc_id) pre-aggregation, and the final top-k is
    * TakeOrderedAndProject, so no global sort of the vocabulary ever runs.
    */
  def vocabTopK(docs: DataFrame, k: Int = 1000): DataFrame = {
    val words = Tables.spread(docs) // tokenize+explode kernel: fan out a 1-split corpus
      .select(col("doc_id"),
        explode(graft.functions.WordTokens.wordTokens(col("text"))).as("word"))
    words
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("n")) // map-side combinable
      .groupBy(col("word")).agg(sum(col("n")).as("cnt"), count(lit(1)).as("doc_freq"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)
  }

  // ------------------------------------------- near-dup clustering (CC)

  /** Connected components by iterative min-label propagation over an
    * undirected edge list (`src`, `dst`): every vertex converges to the
    * smallest vertex id reachable from it. Each round is one shuffle
    * join (edges ⋈ labels) + one min-aggregate, and a checkpoint
    * truncates lineage so round N's plan doesn't embed rounds 1..N-1.
    * Rounds needed = graph diameter — right for near-dup graphs, whose
    * components are tiny cliques/chains (dup clusters), ~2-4 rounds. For
    * adversarial long-path graphs at scale, switch to the large-star /
    * small-star formulation (Kiveris et al., "Connected Components in
    * MapReduce"), which converges in O(log n) rounds of the same
    * join+min shape.
    *
    * The one block set the returned labels read (the final round's
    * labels, or the empty edge set) is kept in `scope`: the session
    * leaves it to GC, a long-running loop's scope releases it once the
    * labels are consumed. Everything else is released before this
    * returns, and on a throw.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          scope: Scope = Scope.session): DataFrame = scope.around { s =>
    // edge set is read every round — materialize once
    val sym = s.checkpoint(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    // Dup-free corpora (empty pair graph) skip the label machinery
    // entirely — the checkpointed edge set answers isEmpty as a limit-1
    // probe, and the result is the empty labeled-vertex relation.
    if (sym.isEmpty) s.keep(sym).select(col("src").as("id"), col("src").as("label"))
    else minLabels(sym, maxIter, s)
  }

  /** [[connectedComponents]]' label rounds over the non-empty
    * checkpointed edge set `sym`, held in `s`. */
  private def minLabels(sym: DataFrame, maxIter: Int, s: Scope): DataFrame = {
    var lastCkpt = s.checkpoint(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var labels = lastCkpt
    if (log.isInfoEnabled)
      log.info(s"connectedComponents: ${sym.count()} directed edges, " +
        s"${labels.count()} vertices, maxIter=$maxIter")
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val msgs = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("m_id")).agg(min(col("label")).as("nbr_min"))
      val next = s.checkpoint(labels
        .join(msgs, labels("id") === msgs("m_id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          (coalesce(col("nbr_min"), col("label")) < col("label")).as("chg")))
      changed = next.filter(col("chg")).count()
      // `next` is materialized — drop the superseded round's checkpoint
      // blocks so resident label copies stay at 2, not O(rounds)
      s.release(lastCkpt)
      lastCkpt = next
      labels = next.select(col("id"), col("label"))
      iter += 1
      // the divergence early-warning: this count shrinking toward 0 is
      // convergence; holding steady round over round is a long chain
      // heading for the guard below
      log.info(s"connectedComponents round $iter: $changed labels changed")
    }
    // the returned labels read only the final round's checkpoint; the
    // edge set is no longer referenced by anything
    s.release(sym)
    // Returning non-converged labels would be a SILENT wrong answer
    // (docs of one component split across several cluster ids, diverging
    // from the oracle's transitive closure). Fail loudly instead: the
    // caller raises maxIter, or — for adversarial long-path graphs at
    // scale — switches to the large-star/small-star formulation. The
    // scope releases the final checkpoint as the throw passes: the
    // message tells the caller to RETRY, and each failed attempt must
    // not pin another label set.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter (rounds needed = " +
          "component diameter) or use the large-star/small-star formulation " +
          "for long-path graphs")
    s.keep(lastCkpt) // the ONE block set the returned relation still reads
    labels
  }

  /** Connected components by alternating large-star / small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the ADVERSARIAL-GRAPH twin of [[connectedComponents]]:
    * min-label propagation needs diameter-many rounds (a 1000-vertex
    * path needs 999), star contraction halves path lengths every
    * round and converges in O(log n) rounds of the same join+min shape.
    *
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its closed neighborhood — long paths fold in half.
    *  - small-star: every node and its smaller neighbors re-point at the
    *    neighborhood minimum — components flatten into stars.
    *
    * Each phase is one groupBy-min + one join over the current edge set
    * (which only ever shrinks toward one edge per non-root vertex), with
    * lineage truncated per round. Convergence = the canonical edge set
    * reaches a fixed point (counts first, then an exact except-check, so
    * no hash-collision false positive can end the loop early); at the
    * fixed point every edge is (vertex, component-minimum). Use this
    * over [[connectedComponents]] when component diameters are unknown
    * or adversarial; near-dup clique graphs converge in ~2 rounds either
    * way, which is why the min-label variant stays the default.
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame =
    Scope.session.around { s =>
      // vertex set up front: star rewriting drops self-loops, but a vertex
      // appearing ONLY in self-loops is still a (singleton) component
      val vertices = s.keep(s.checkpoint(edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()))
      if (vertices.isEmpty) vertices.select(col("id"), col("id").as("label"))
      else starLabels(edges, vertices, maxIter, s)
    }

  /** [[connectedComponentsStar]]'s rounds over a non-empty vertex set;
    * the edge-set copies are held in `s`, the final one kept. */
  private def starLabels(edges: DataFrame, vertices: DataFrame, maxIter: Int,
                         s: Scope): DataFrame = {
    // canonical undirected form: (u, v) with u > v, self-loops dropped
    var e = s.checkpoint(edges
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var eCount = e.count()
    log.info(s"connectedComponentsStar: $eCount canonical edges, maxIter=$maxIter")
    var converged = eCount == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star over BOTH directions: node a sees neighborhood minimum
      // m = min(N(a) ∪ {a}); each larger neighbor b > a re-points to m
      val nbr = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val mins = nbr.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = nbr.join(mins, "a")
        .filter(col("b") > col("a")) // b > a >= m, so (b, m) is canonical
        .select(col("b").as("u"), col("m").as("v")).distinct()
      // small-star on the large-star output (already canonical u > v):
      // node u and its smaller neighbors all re-point at min(N⁻(u) ∪ {u})
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = s.checkpoint(large.join(minsS, "u").select(col("v").as("a"), col("m").as("b"))
        .union(minsS.select(col("u").as("a"), col("m").as("b")))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
      val smallCount = small.count()
      // fixed point: same canonical edge set as last round (count gate
      // first; the except probe runs only when counts agree)
      converged = smallCount == eCount && small.exceptAll(e).isEmpty
      // superseded round's checkpoint blocks released — edge-set copies
      // in the block manager stay at 2, not O(rounds)
      s.release(e)
      e = small
      eCount = smallCount
      iter += 1
      log.info(s"connectedComponentsStar round $iter: $eCount edges" +
        (if (converged) " (fixed point)" else ""))
    }
    // retry-path hygiene: a retry recomputes from the raw edges, so the
    // scope releases this attempt's vertices and edges as the throw passes
    if (!converged && eCount > 0)
      throw new IllegalStateException(
        s"connectedComponentsStar did not reach a fixed point in $maxIter rounds " +
          s"($eCount edges) — rounds scale with log(largest component size), so " +
          "either the graph is vastly larger than maxIter allows for (raise it) " +
          "or an upstream bug is feeding a pathological edge set")
    s.keep(e)
    // at the fixed point every edge is (vertex, its component minimum);
    // roots label themselves, edge-set dropouts (self-loop-only vertices)
    // are singletons
    val labeled = e.select(col("u").as("id"), col("v").as("label"))
      .union(e.select(col("v").as("id"), col("v").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    vertices.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Near-duplicate clusters: connected components over the exact
    * word-3-gram Jaccard ≥ 0.8 pair graph (§2.3 `dedup_ngram_jaccard`).
    * Output is one row per clustered doc with its cluster's canonical
    * (minimum) doc_id — the "which docs are the same document" answer a
    * dedup pass acts on. Docs with no near-dup partner don't appear
    * (singleton clusters are the identity and would dominate output).
    */
  def dedupClusters(docs: DataFrame): DataFrame = Scope.session.around { s =>
    // One shingle pass, persisted across the pair-join's two sides (the
    // self-join otherwise recomputes the shingle kernel per side); the
    // CC loop materializes everything downstream eagerly (a checkpoint
    // per round), so the cache can be dropped before returning — the
    // returned plan reads only the kept label checkpoint.
    val shingled = s.persist(Dedup.shingleHashSets(docs))
    connectedComponents(
      Dedup.ngramJaccardPairs(shingled)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")), scope = s)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-size histogram over [[dedupClusters]] — the duplication-
    * rate report a pipeline tracks run-over-run (a sudden fat tail means
    * a boilerplate/template source started flooding the crawl). Two tiny
    * aggregations over the bounded cluster relation; the corpus-side
    * cost is the same single pair-graph pass `dedup_clusters` already
    * pays.
    */
  def dedupClusterSizes(docs: DataFrame): DataFrame =
    dedupClusters(docs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  // -------------------------------------------------- end-to-end pipeline

  /** The cleaning pipeline end-to-end, composed declaratively:
    * per-doc stats/quality/language (ONE fused TokenStats pass, §2.5) →
    * near-dup clustering (§2.3 pairs → components) → keep docs that are
    * their cluster's canonical member AND score quality ≥ 0.75. The
    * shingle pass is persisted across the pair-join's two sides; the
    * drop-list anti-join strategy is left to AQE — it broadcasts when
    * the list is small, but real web corpora run 30-50% near-dup, where
    * a forced broadcast would blow the driver, so no hint. Everything
    * else is map work on the single documents scan.
    *
    * Byte-identical docs are near-dups at Jaccard 1.0, so exact dedup is
    * subsumed — except docs with fewer than 3 tokens (no 3-gram
    * shingles), which never enter the pair graph; a corpus of those
    * should run `dedup_exact` instead.
    */
  def cleanCorpus(spark: SparkSession, d: String): DataFrame =
    cleanCorpusDocs(Tables.documents(spark, d))

  def cleanCorpusDocs(docs: DataFrame): DataFrame = Scope.session.around { s =>
    // dedupClusters minus its user-facing sort (the anti-join destroys
    // ordering anyway); shingle pass persisted, dropped once the CC loop
    // has materialized its labels
    val shingled = s.persist(Dedup.shingleHashSets(docs))
    val dropList = connectedComponents(
      Dedup.ngramJaccardPairs(shingled)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")), scope = s)
      .filter(col("id") =!= col("label")) // canonical member survives
      .select(col("id").as("doc_id"))
    scoredDocs(docs)
      .join(dropList, Seq("doc_id"), "left_anti")
      .filter(col("quality") >= 0.75)
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** The per-doc half of the clean gate — ONE fused TokenStats pass
    * producing stats/quality/language for every doc. Pure map work;
    * shared by [[cleanCorpusDocs]] and [[ledger]] so the quality weights
    * and langid cascade live in exactly one plan fragment.
    */
  private[operators] def scoredDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("st", graft.functions.TokenStats.tokenStats(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", col("st.n_tokens"))
      .withColumn("punct_ratio", round(punctRatio(col("text")), 6))
      .withColumn("stop_ratio", round(
        col("st.en_hits").cast("double") / nullif(col("st.n_tokens"), lit(0L)).cast("double"), 6))
      .withColumn("avg_token_len", round(
        col("st.n_nonws_chars").cast("double") / nullif(col("st.n_tokens"), lit(0L)).cast("double"), 6))
      .withColumn("quality",
        qualityScore(col("n_chars"), col("stop_ratio"), col("punct_ratio"), col("avg_token_len")))
      .withColumn("lang_pred", langPredict(
        col("st.en_hits"), col("st.es_hits"), col("st.de_hits"), col("st.fr_hits")))

  /** The full clean-gate LEDGER: every doc's scores plus its near-dup
    * cluster id (own id when unclustered) — the relation
    * [[cleanCorpusDocs]] filters down to its kept-set (`doc_id ==
    * cluster_id && quality >= 0.75`, since min-label CC makes the
    * canonical member the one whose label is its own id). A production
    * incremental pipeline PERSISTS this relation between snapshots:
    * [[Snapshot.incrementalCleanFromState]] consumes it as the stored
    * prior state and recomputes it only for delta-affected docs. PUBLIC
    * because that loop needs a caller-reachable way to bootstrap and
    * re-materialize the stored ledger.
    *
    * `maxShingleDf` is the 100 TB skew-cap recipe ([[Dedup
    * .ngramJaccard]]'s doc). The incremental loop maintains the SAME
    * capped ledger delta-stably via
    * [[Snapshot.incrementalLedgerDeltaCheckpointedCapped]] — it
    * additionally reads the delta docs' prior postings and the prior
    * hot set to detect cap CROSSINGS (a delta can push a shingle's
    * global df across the cap, flipping edges between docs the delta
    * never names) and seeds their blast radius; SnapshotSpec pins
    * capped-incremental equal to this from-scratch form row-for-row.
    */
  def ledger(docs: DataFrame, maxShingleDf: Option[Int] = None,
             scope: Scope = Scope.session): DataFrame =
    scope.around(s => ledgerFrom(docs, s.persist(Dedup.shingleHashSets(docs)), maxShingleDf, s))

  /** [[ledger]]'s output schema as a VALUE — a stored-ledger chain
    * reader over possibly-zero-file delta dirs (a removal-only epoch's
    * blast radius can be empty) needs an explicit schema, and deriving
    * it from `ledger(empty)` would eagerly run the CC machinery just
    * for analysis. CorpusSpec pins this equal to the real output
    * schema so the two can never drift. */
  val LedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("quality",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("lang_pred",
        org.apache.spark.sql.types.StringType)))

  /** [[ledger]] with a caller-owned shingle pass — so a caller that
    * already persisted `shingleHashSets` for these exact docs (the
    * incremental closure) doesn't pay the kernel twice. The CC labels
    * materialize (checkpointed, kept in `scope`) before this returns;
    * only the lazy scored/label join survives, which never reads
    * `shingled`.
    */
  private[operators] def ledgerFrom(docs: DataFrame, shingled: DataFrame,
                                    maxShingleDf: Option[Int] = None,
                                    scope: Scope = Scope.session): DataFrame =
    ledgerFromEdges(docs,
      Dedup.ngramJaccardPairs(shingled, maxShingleDf = maxShingleDf)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")), scope)

  /** [[ledger]] with a caller-owned POSTING relation (`doc_id`, `nsh`,
    * `s` — [[Snapshot.postings]]' shape): the streamed clean loop's
    * bootstrap epoch has already WRITTEN its arrival's posting delta,
    * so the pair join reads those scalar rows back instead of running
    * the tokenize+shingle kernel a second time over the text (VERDICT
    * r15 #6). `docs` still feeds the score pass — quality needs the
    * text either way. */
  private[graft] def ledgerFromPostings(docs: DataFrame, postings: DataFrame,
                                        maxShingleDf: Option[Int] = None,
                                        scope: Scope = Scope.session): DataFrame =
    ledgerFromEdges(docs,
      Dedup.ngramJaccardPairsFromPostings(postings, maxShingleDf = maxShingleDf)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")), scope)

  /** [[ledgerFrom]] with a caller-supplied near-dup edge relation
    * (`src`, `dst`; either orientation, duplicates tolerated — CC
    * symmetrizes) — for a caller that already HAS the pair graph and
    * must not pay the pair join twice: the incremental closure's BFS
    * emits exactly the closure's complete edge set as a by-product of
    * traversal ([[Snapshot.incrementalCleanFrom]]). Same contract as
    * [[ledgerFrom]]: CC labels materialize (checkpointed, kept in
    * `scope`) before this returns; only the lazy scored/label join
    * survives, which never reads `edges`.
    */
  private[operators] def ledgerFromEdges(docs: DataFrame, edges: DataFrame,
                                         scope: Scope = Scope.session): DataFrame = {
    val labels = connectedComponents(edges, scope = scope)
    scoredDocs(docs)
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"),
        col("n_tokens"), col("quality"), col("lang_pred"))
  }

  // --------------------------------------------------------------- driver

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_split" -> ((s, d) => sampleSplit(Tables.documents(s, d))),
    "sample_topk_hash" -> ((s, d) => sampleTopKHash(Tables.documents(s, d))),
    "vocab_topk" -> ((s, d) => vocabTopK(Tables.documents(s, d))),
    "dedup_clusters" -> ((s, d) => dedupClusters(Tables.documents(s, d))),
    "dedup_cluster_sizes" -> ((s, d) => dedupClusterSizes(Tables.documents(s, d))),
    "pipe_clean_corpus" -> ((s, d) => cleanCorpus(s, d)),
    // the end-to-end capstone lives in Training (it composes decontam +
    // packing); its oracle lives HERE because it extends this file's
    // clean-corpus SQL chain
    "pipe_training_manifest" -> ((s, d) => Training.trainingManifest(s, d)))

  /** The §2.3 ngram-Jaccard pair SQL, reused as the edge set of the
    * clustering oracles (kept in lockstep with Dedup.oracle).
    * Parameterized over the pair join's source so the CAPPED variant
    * ([[pairsCteCapped]] — global shingle df > cap excluded, `nsh`
    * stays the FULL set size, matching `ngramJaccardPairs(cap)`'s
    * lower-bound semantics) shares every other line verbatim.
    * NOTE: this template is s-interpolated, so regex backslashes are
    * doubled (`\\s`) where the old plain-triple-quoted form had `\s`.
    */
  private def pairsCteFrom(capCte: String, src: String): String =
    s"""t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |   list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS shingles
      |  FROM t WHERE len(ts) >= 3),
      |ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh),$capCte
      |pairs AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS inter,
      |   any_value(a.nsh) AS n1, any_value(b.nsh) AS n2
      |  FROM $src a JOIN $src b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
      |  HAVING count(*) * 1.0 / (any_value(a.nsh) + any_value(b.nsh) - count(*)) >= 0.8),
      |edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
      |  UNION SELECT doc_id_2, doc_id_1 FROM pairs),
      |reach AS (SELECT src, dst FROM edges
      |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |   WHERE e.dst <> r.src),
      |clusters AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src)""".stripMargin

  private val pairsCte = pairsCteFrom("", "ex")

  /** [[pairsCte]] under the `maxShingleDf` cap: rows of shingles whose
    * GLOBAL document frequency exceeds the cap are excluded before the
    * pair join (strictly-greater, matching the Scala hot filter), while
    * `nsh` keeps the full shingle-set size — the capped Jaccard lower
    * bound, line-for-line the uncapped CTE otherwise. */
  private def pairsCteCapped(cap: Int): String = pairsCteFrom(
    s"""
      |excap AS (SELECT * FROM ex WHERE s NOT IN (
      |  SELECT s FROM ex GROUP BY s HAVING count(*) > $cap)),""".stripMargin, "excap")

  /** The full clean-gate SQL under the cap — the oracle of the CAPPED
    * streamed incremental clean ([[graft.streaming.Events]] registers
    * it with its shared cap constant interpolated). */
  private[graft] def cleanCorpusSqlCapped(cap: Int): String =
    s"""WITH RECURSIVE ${pairsCteCapped(cap)},
       |$scoringCtes
       |SELECT doc_id, n_tokens, quality, lang_pred FROM s3
       |WHERE quality >= 0.75 ORDER BY doc_id""".stripMargin

  /** The clean-corpus scoring chain (drop near-dups → token stats →
    * quality + langid), shared by the `pipe_clean_corpus` and
    * `pipe_training_manifest` oracles so stopword lists / quality
    * weights / the langid cascade live in exactly one SQL string.
    * Requires `clusters` (from [[pairsCte]]) to be in scope; exposes
    * `s3(doc_id, n_tokens, quality, lang_pred)`, unfiltered.
    */
  private val scoringCtes =
    """drop_list AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id),
      |stats AS (SELECT d.doc_id, length(d.text) AS nc,
      |   list_filter(string_split_regex(d.text, '\s+'), x -> x <> '') AS ts, d.text
      |  FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_list)),
      |s2 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |  round((nc - length(regexp_replace(text, '[^0-9a-zA-Z\s]', '', 'g'))) * 1.0 / nullif(nc, 0), 6) AS punct_ratio,
      |  round(len(list_filter(ts, t -> t IN ('the','a','and','of','to','is','in','that','it','for'))) * 1.0 / nullif(len(ts), 0), 6) AS stop_ratio,
      |  round(length(regexp_replace(text, '\s', '', 'g')) * 1.0 / nullif(len(ts), 0), 6) AS avg_token_len,
      |  CAST(len(list_filter(ts, t -> t IN ('the','a','and','of','to','is','in','that','it','for'))) AS BIGINT) AS en_hits,
      |  CAST(len(list_filter(ts, t -> t IN ('el','la','de','que','y','en','un','es','se','no'))) AS BIGINT) AS es_hits,
      |  CAST(len(list_filter(ts, t -> t IN ('der','die','und','das','ist','ein','zu','mit','den','von'))) AS BIGINT) AS de_hits,
      |  CAST(len(list_filter(ts, t -> t IN ('le','les','et','des','une','du','dans','pour','sur','avec'))) AS BIGINT) AS fr_hits,
      |  nc FROM stats),
      |s3 AS (SELECT doc_id, n_tokens,
      |  round((CASE WHEN nc BETWEEN 100 AND 5000 THEN 0.25 ELSE 0 END) +
      |   (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 0.25 ELSE 0 END) +
      |   (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0 END) +
      |   (CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0 END), 2) AS quality,
      |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
      |   WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
      |   WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
      |   WHEN fr_hits > 0 THEN 'fr' ELSE 'unknown' END AS lang_pred
      | FROM s2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "sample_split" ->
      """SELECT doc_id, substr(md5(text), 1, 2) AS bucket,
        | CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
        |      WHEN substr(md5(text), 1, 2) < 'e6' THEN 'validation'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_topk_hash" ->
      """SELECT doc_id, md5('topk:' || text) AS ok FROM documents
        |WHERE text IS NOT NULL
        |ORDER BY ok, doc_id LIMIT 100""".stripMargin,
    "vocab_topk" ->
      """SELECT word, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq FROM (
        | SELECT doc_id, unnest(list_filter(
        |   string_split_regex(regexp_replace(text, '[^0-9a-zA-Z\s]', '', 'g'), '\s+'),
        |   w -> w <> '')) AS word
        | FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 1000""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $pairsCte
         |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $pairsCte,
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id)
         |SELECT cluster_size, count(*) AS n_clusters FROM sizes
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "pipe_clean_corpus" ->
      s"""WITH RECURSIVE $pairsCte,
         |$scoringCtes
         |SELECT doc_id, n_tokens, quality, lang_pred FROM s3
         |WHERE quality >= 0.75 ORDER BY doc_id""".stripMargin,
    "pipe_training_manifest" ->
      s"""WITH RECURSIVE $pairsCte,
         |$scoringCtes,
         |splits AS (SELECT doc_id,
         |  CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
         |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'validation'
         |       ELSE 'test' END AS split
         | FROM documents),
         |dt AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS dts
         |  FROM documents),
         |dsh AS (SELECT dt.doc_id, sp.split, list_distinct(
         |   ${Training.fiveGramListOf("dts")}) AS shingles
         |  FROM dt JOIN splits sp USING (doc_id) WHERE len(dts) >= 5),
         |dex AS (SELECT doc_id, split, unnest(shingles) AS s FROM dsh),
         |contam AS (SELECT DISTINCT a.doc_id FROM dex a JOIN dex b ON a.s = b.s
         |  WHERE a.split = 'train' AND b.split = 'test'),
         |base AS (SELECT s3.doc_id, sp.split, s3.lang_pred, s3.quality, s3.n_tokens
         |  FROM s3 JOIN splits sp USING (doc_id)
         |  WHERE s3.quality >= 0.75
         |    AND (sp.split <> 'train' OR s3.doc_id NOT IN (SELECT doc_id FROM contam))),
         |packed AS (SELECT doc_id,
         |   CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
         |  FROM base WHERE split = 'train')
         |SELECT b.doc_id, b.split, b.lang_pred, b.quality, b.n_tokens,
         | coalesce(p.start_offset, -1) AS start_offset,
         | coalesce(CAST(floor(p.start_offset / 2048.0) AS BIGINT), -1) AS seq_id
         |FROM base b LEFT JOIN packed p USING (doc_id) ORDER BY b.doc_id""".stripMargin)
}
