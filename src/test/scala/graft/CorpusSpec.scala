package graft

import graft.operators.{Corpus, Dedup}
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the corpus-construction operators (SURVEY §2.8) beyond the
  * driver's DuckDB oracles: connected-components edge cases (empty graph,
  * convergence guard) that the fixed test corpus can't exercise.
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def edges(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  test("connectedComponents on an empty edge set short-circuits to the empty relation") {
    val labels = Corpus.connectedComponents(edges())
    assert(labels.columns.toSeq == Seq("id", "label"))
    assert(labels.isEmpty)
  }

  test("dedupClusters on a dup-free corpus is empty (no label machinery runs)") {
    import spark.implicits._
    val d = Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five",
      3L -> "red orange yellow green blue").toDF("doc_id", "text")
    assert(Corpus.dedupClusters(d).isEmpty)
  }

  test("connectedComponents labels a chain with its minimum id") {
    val labels = Corpus.connectedComponents(
      edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents throws rather than return non-converged labels") {
    // label needs 4 rounds to travel the chain; with maxIter=1 every
    // label is still changing — silent wrong output would split the
    // component across several cluster ids
    val chain = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException](
      Corpus.connectedComponents(chain, maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
    // a retry must not inherit this attempt's edge set or label rounds
    val pinned = TestSpark.pinnedBeyond(before)
    assert(pinned.isEmpty, s"the failed attempt left RDDs $pinned pinned")
  }

  test("connectedComponentsStar converges on a 1000-vertex path graph") {
    // min-label propagation needs 999 rounds here (and throws at its
    // default 25); star contraction must fold the path in O(log n)
    val path = edges((0L until 999L).map(i => i -> (i + 1)): _*)
    val labels = Corpus.connectedComponentsStar(path)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 1000)
    assert(labels.forall(_._2 == 0L), "every path vertex must label to the minimum (0)")
  }

  test("connectedComponentsStar throws rather than return a non-fixed-point edge set") {
    val chain = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException](
      Corpus.connectedComponentsStar(chain, maxIter = 1))
    assert(e.getMessage.contains("fixed point"))
    // nor the star rounds' vertex and edge sets
    val pinned = TestSpark.pinnedBeyond(before)
    assert(pinned.isEmpty, s"the failed attempt left RDDs $pinned pinned")
  }

  test("connectedComponentsStar matches min-label CC on mixed graphs") {
    val g = edges(
      1L -> 2L, 2L -> 3L, 3L -> 4L, // chain
      10L -> 11L, 11L -> 12L, 10L -> 12L, // triangle
      20L -> 20L, // self-loop-only vertex = singleton component
      30L -> 31L) // pair
    val star = Corpus.connectedComponentsStar(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val minLabel = Corpus.connectedComponents(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == minLabel)
    assert(star(20L) == 20L)
  }

  test("connectedComponentsStar on the documents pair graph equals the min-label clusters") {
    // dedup_clusters' oracle-checked output must be reproducible by the
    // adversarial-graph formulation — same edge set, same labels
    val pairEdges = Dedup.ngramJaccard(Tables.documents(spark, TestSpark.sf))
      .select(org.apache.spark.sql.functions.col("doc_id_1").as("src"),
        org.apache.spark.sql.functions.col("doc_id_2").as("dst"))
    val star = Corpus.connectedComponentsStar(pairEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val minLabel = Corpus.connectedComponents(pairEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == minLabel)
  }

  test("sample_topk_hash: exactly k, content-keyed, near-stable under corpus growth") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
    val base = Corpus.sampleTopKHash(docs, k = 100).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(base.length == 100)
    assert(base.map(_._2).sorted.toSeq == base.map(_._2).toSeq, "not hash-ordered")
    // growth stability: adding docs can only displace via smaller hashes —
    // the new sample is a subset of (old sample ∪ new docs), never a
    // reshuffle of the survivors
    val extraIds = (100000L until 100050L)
    val extra = extraIds.map(i => (i, s"extra growth document number $i body")).toDF("doc_id", "text")
    val grown = Corpus.sampleTopKHash(
      docs.select($"doc_id", $"text").unionByName(extra), k = 100).collect()
      .map(r => r.getLong(0)).toSet
    val allowed = base.map(_._1).toSet ++ extraIds
    assert(grown.subsetOf(allowed), s"growth reshuffled survivors: ${grown -- allowed}")
  }

  test("cleanCorpus quality gate keeps high-quality canonical docs only") {
    // structural sanity on the real corpus: every surviving doc is
    // quality >= 0.75 and no surviving doc is a non-canonical dup member
    val out = Corpus.cleanCorpus(spark, TestSpark.sf)
    val kept = out.collect()
    assert(kept.nonEmpty)
    assert(kept.forall(_.getDouble(2) >= 0.75))
    val dropIds = Corpus.dedupClusters(Tables.documents(spark, TestSpark.sf))
      .filter("doc_id <> cluster_id").collect().map(_.getLong(0)).toSet
    assert(kept.forall(r => !dropIds.contains(r.getLong(0))))
  }
}
