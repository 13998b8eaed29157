package graft

import graft.operators.Snapshot
import org.scalatest.funsuite.AnyFunSuite

/** Specs for snapshot diffing (SURVEY §2.8) beyond the DuckDB oracle:
  * the generic two-manifest diff on hand-built snapshots, and the
  * self-inverse / delta-size properties an incremental pipeline relies
  * on.
  */
class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def manifest(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "h")
  }

  test("published chain-reader schemas match the real relation schemas") {
    // the stored-chain readers pass ManifestSchema / LedgerSchema
    // explicitly (zero-file delta dirs have nothing to infer from) —
    // pin name+type equality with the live outputs so the literals can
    // never drift (nullability deliberately excluded: computed columns'
    // nullable flags vary with input nullability, and parquet readers
    // don't enforce them)
    import spark.implicits._
    val tiny = Seq((1L, "alpha beta gamma delta epsilon one"),
      (2L, "alpha beta gamma delta epsilon two")).toDF("doc_id", "text")
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.map(f => (f.name, f.dataType))
    assert(shape(graft.operators.Snapshot.manifest(tiny).schema) ==
      shape(graft.operators.Snapshot.ManifestSchema))
    Scope.around(scope => assert(shape(graft.operators.Corpus.ledger(tiny,
      scope = scope).schema) == shape(graft.operators.Corpus.LedgerSchema)))
  }

  test("diff classifies added / removed / changed and drops unchanged") {
    val oldM = manifest(1L -> "a", 2L -> "b", 3L -> "c")
    val newM = manifest(2L -> "b", 3L -> "C2", 4L -> "d")
    val got = Snapshot.diff(oldM, newM).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  test("diff of a snapshot with itself is empty") {
    val m = manifest(1L -> "a", 2L -> "b", 3L -> "c")
    assert(Snapshot.diff(m, m).isEmpty)
  }

  test("derived-snapshot diff: every status present, statuses match the construction") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val byStatus = Snapshot.snapshotDiff(docs).collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    // construction invariants, independent of the oracle:
    //  added   = ids % 11 == 0 (absent from the derived old snapshot)
    //  changed = ids % 7 == 0 that are NOT also added
    //  removed = synthetic retired ids, all beyond max(doc_id)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val maxId = ids.max
    assert(byStatus("added") == ids.filter(_ % 11 == 0))
    assert(byStatus("changed") == ids.filter(i => i % 7 == 0 && i % 11 != 0))
    assert(byStatus("removed").forall(_ > maxId))
    assert(byStatus("removed").size == ids.count(_ % 13 == 0))
  }

  test("steady-state delta is small relative to the corpus (incremental contract)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val delta = Snapshot.snapshotDiff(docs).count()
    // 1/11 + 1/7 + 1/13 ≈ 31% upper bound; the point is |delta| << |corpus|
    assert(delta < n / 2, s"delta $delta not incremental vs corpus $n")
  }

  // ---- incremental_clean: incremental result must EQUAL full recompute

  // quality-passing English filler (≥100 chars, stopwords present, no
  // punctuation, 3-10 char tokens) — the dup/bridge cases below only
  // bite if the docs actually clear the 0.75 quality gate, which each
  // test pins via its full-recompute expectation
  private val textA = "the river flows down to the valley and the water is clear " +
    "in the morning light for it carries the sound of distant bells across " +
    "quiet fields toward the old stone bridge"
  private val textB = "many bright planets orbit the distant star and its light " +
    "takes years to reach the small telescopes that watch from this cold " +
    "mountain top in the clear winter night for hours"

  private def corpus(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def keptIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def assertIncrementalMatchesFull(oldDocs: org.apache.spark.sql.DataFrame,
                                           newDocs: org.apache.spark.sql.DataFrame,
                                           expectKept: Set[Long]): Unit = {
    val full = graft.operators.Corpus.cleanCorpusDocs(newDocs).collect().toSeq
    assert(full.map(_.getLong(0)).toSet == expectKept,
      "full recompute disagrees with the scenario's expectation (vacuous test?)")
    val inc = Snapshot.incrementalCleanFrom(oldDocs, newDocs).collect().toSeq
    assert(inc.map(_.toSeq).sortBy(_.head.toString) == full.map(_.toSeq).sortBy(_.head.toString),
      "incremental result diverged from full recompute")
  }

  test("incremental_clean: removing the canonical dup re-admits the dropped mate") {
    // old: 1 and 2 duplicate — 1 canonical, 2 dropped. New: 1 removed.
    // The prior kept-set never contained 2; only the prior-cluster-mates
    // seeding can resurrect it.
    assertIncrementalMatchesFull(
      oldDocs = corpus(1L -> textA, 2L -> textA, 9L -> textB),
      newDocs = corpus(2L -> textA, 9L -> textB),
      expectKept = Set(2L, 9L))
  }

  test("incremental_clean: an added smaller-id dup evicts the previously kept doc") {
    // old: 5 kept alone. New: 3 added with identical text — 3 becomes
    // canonical, 5 must drop. Only the shingle-closure around the added
    // doc can discover 5.
    assertIncrementalMatchesFull(
      oldDocs = corpus(5L -> textA, 9L -> textB),
      newDocs = corpus(3L -> textA, 5L -> textA, 9L -> textB),
      expectKept = Set(3L, 9L))
  }

  test("incremental_clean: a changed doc leaving its cluster re-admits the mate") {
    // old: 7 and 8 duplicate — 8 dropped. New: 7's text changes away —
    // both singletons now, both kept.
    assertIncrementalMatchesFull(
      oldDocs = corpus(7L -> textA, 8L -> textA),
      newDocs = corpus(7L -> textB, 8L -> textA),
      expectKept = Set(7L, 8L))
  }

  test("incremental_clean equals pipe_clean_corpus on the derived testdata mutation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = graft.operators.Corpus.cleanCorpusDocs(docs).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    val inc = Snapshot.incrementalClean(docs).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    assert(full.nonEmpty && inc.toSeq == full.toSeq)
  }

  test("incremental_clean fails loudly when the shingle closure cannot converge") {
    // maxRounds = 0 leaves a non-empty frontier — returning a partial
    // closure would silently under-recompute, so it must throw instead
    val oldS = corpus(1L -> textA, 2L -> textA)
    val newS = corpus(2L -> textA)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Snapshot.incrementalCleanFrom(oldS, newS, maxRounds = 0)
    }
    // the harness-derived prior ledger, its CC labels and the closure's
    // own checkpoints all go with the failed attempt
    val pinned = TestSpark.pinnedBeyond(before)
    assert(pinned.isEmpty, s"the failed attempt left RDDs $pinned pinned")
  }

  test("applyDelta round-trips an arbitrary mutated snapshot") {
    import org.apache.spark.sql.functions.{col, md5}
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), md5(col("text")).as("h"))
    val oldS = corpus(1L -> "one body", 2L -> "two body", 3L -> "three body")
    val newS = corpus(2L -> "two body", 3L -> "three body changed", 4L -> "four body")
    val applied = Snapshot.applyDelta(oldS, Snapshot.diff(m(oldS), m(newS)), newS)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(applied == Seq(2L -> "two body", 3L -> "three body changed", 4L -> "four body"))
  }

  test("snapshot_apply joins the delta as broadcasts, never shuffling snapshot text") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ds = Snapshot.snapshotApply(docs)
    ds.collect() // AQE final plan needs THE dataset executed
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"carry arm's delta fence is not a broadcast anti-join:\n${plan.take(3000)}")
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"body arm's delta gate is not a broadcast semi-join:\n${plan.take(3000)}")
  }

  test("incremental_clean gates the corpus with a broadcast semi-join, never a text shuffle") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ds = Snapshot.incrementalClean(docs)
    ds.collect() // AQE final plans require executing THE dataset (r6 gotcha)
    val plan = ds.queryExecution.executedPlan.toString
    // the closure gate: corpus-with-text side filtered by a broadcast
    // LeftSemi on the delta-sized id set — an inner/shuffle join here
    // would exchange every document's text
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"closure gate is not a broadcast semi-join:\n${plan.take(3000)}")
  }

  test("incrementalLedgerFromState equals the from-scratch ledger (loop closure)") {
    // The production loop is ledger in → ledger out: each round's output
    // must BE the ledger a full recompute would store, or errors
    // compound across rounds. Row-for-row, all five columns.
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [draft]")))
          .otherwise(col("text")).as("text"))
    Scope.around { scope =>
      val prior = scope.checkpoint(graft.operators.Corpus.ledger(old))
      val got = Snapshot.incrementalLedgerFromState(prior, Snapshot.manifest(old), docs)
        .orderBy(col("doc_id")).collect().toSeq
      val want = graft.operators.Corpus.ledger(docs)
        .orderBy(col("doc_id")).collect().toSeq
      assert(got.nonEmpty && got == want)
    }
  }

  test("checkpointed delta form pins no blocks once its result is released") {
    // The lifecycle contract a continuously-running loop depends on:
    // after consuming and releasing incrementalLedgerDeltaCheckpointed's
    // result — while the scope it was registered in is still open — the
    // persistent-RDD registry holds NOTHING the call created: no
    // closure, CC label, manifest-diff or result blocks. The call
    // registers only its result in the caller's scope; an intermediate
    // held there until the scope's end would show up here.
    // (The baseline is taken AFTER the prior ledger is built: batch
    // one-shot entry points like Corpus.ledger legitimately leave their
    // label checkpoint to session exit.)
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    import graft.operators.Corpus
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [draft]")))
          .otherwise(col("text")).as("text"))
    Scope.around { state =>
      val prior = state.checkpoint(Corpus.ledger(old))
      val oldM = state.checkpoint(Snapshot.manifest(old))
      val newM = state.checkpoint(Snapshot.manifest(docs))
      val idx = state.persist(Snapshot.postings(docs))
      idx.count() // materialize: the cache RDD must register BEFORE the baseline
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Scope.around { scope =>
        val delta = Snapshot.incrementalLedgerDeltaCheckpointed(prior, oldM, newM,
          _ => Snapshot.InMemoryPostings(idx), ids => docs.join(ids, Seq("doc_id"), "left_semi"),
          25, scope)
        assert(delta.count() > 0)
        scope.release(delta)
        // the release unpersists asynchronously — poll briefly
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        def leaked() = (spark.sparkContext.getPersistentRDDs.keySet -- before)
          .filter(spark.sparkContext.getPersistentRDDs.contains)
        while (leaked().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
        assert(leaked().isEmpty, s"call left pinned RDDs: ${leaked().map(id =>
          id -> spark.sparkContext.getPersistentRDDs(id).toDebugString
            .linesIterator.take(6).mkString(" | "))}")
      }
    }
  }

  test("incrementalLedgerFromStoredState runs entirely off parquet-backed state") {
    // The fully-incremental deployment shape: prior ledger, both
    // manifests AND the posting index are READ FROM STORAGE (here a
    // scratch parquet store, unpersisted, no lineage back to the old
    // corpus) — the update must still reproduce the from-scratch ledger
    // row-for-row. This is the exact call streamIncrementalClean makes
    // per micro-batch.
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [draft]")))
          .otherwise(col("text")).as("text"))
    val store = java.nio.file.Files.createTempDirectory("graft_stored_state")
    try {
      graft.operators.Corpus.ledger(old).write.parquet(s"$store/ledger")
      Snapshot.manifest(old).write.parquet(s"$store/manifest_old")
      Snapshot.manifest(docs).write.parquet(s"$store/manifest_new")
      Snapshot.postings(docs).write.parquet(s"$store/postings")
      val got = Snapshot.incrementalLedgerFromStoredState(
        spark.read.parquet(s"$store/ledger"),
        spark.read.parquet(s"$store/manifest_old"),
        spark.read.parquet(s"$store/manifest_new"),
        spark.read.parquet(s"$store/postings"), docs)
        .orderBy(col("doc_id")).collect().toSeq
      val want = graft.operators.Corpus.ledger(docs)
        .orderBy(col("doc_id")).collect().toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(store).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("incremental ledger on an UNCHANGED snapshot is the prior ledger verbatim") {
    // Empty delta → empty seeds → the closure's zero-round path (where
    // frontier IS visited and must not be released) → no recompute rows,
    // everything carried. The steady-state no-op crawl must cost nothing
    // and change nothing.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Scope.around { scope =>
      val prior = scope.checkpoint(graft.operators.Corpus.ledger(docs))
      val next = Snapshot.incrementalLedgerFromState(prior, Snapshot.manifest(docs), docs)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      val want = prior.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(next.nonEmpty && next == want)
    }
  }

  test("pair-graph closure ignores corpus-ubiquitous shingles (degeneracy pin)") {
    // Every doc shares the stop-gram "the end of", but only docs 1 and 2
    // are true near-dups. The earlier shared-SHINGLE closure visited the
    // whole corpus here in one round (measured on sf0.1: all 5000 docs)
    // — turning the incremental path into the full recompute. The
    // Jaccard-filtered traversal must stop at the true component.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, size}
    val docs = (Seq(
      1L -> "the end of alpha beta gamma delta",
      2L -> "the end of alpha beta gamma delta") ++
      (3 to 10).map(i => i.toLong -> s"the end of u$i v$i w$i x$i")).toDF("doc_id", "text")
    val postings = graft.operators.Dedup.shingleHashSets(docs)
      .select(col("doc_id"), size(col("shingles")).as("nsh"),
        explode(col("shingles")).as("s"))
    val seeds = Seq(1L).toDF("doc_id")
    Scope.around { scope =>
      val (closed, edges) =
        Snapshot.pairGraphClosure(seeds, Snapshot.InMemoryPostings(postings), 25, scope)
      assert(closed.collect().map(_.getLong(0)).toSet == Set(1L, 2L),
        "closure must be the seed's true near-dup component, not every doc sharing a stop-gram")
      // and the rounds' edges are exactly that component's pair set
      val pairs = edges.flatMap(_.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)) && pairs.subsetOf(Set((1L, 2L), (2L, 1L))),
        s"accumulated edges should cover exactly the 1-2 pair, got $pairs")
    }
  }

  test("capped incremental ledger survives engineered cap crossings outside the naive closure") {
    // The maxShingleDf delta-stability leg (VERDICT r14 #1). Docs 1,2
    // are identical 7-token near-dups (5 shared shingles, J=1.0); with
    // ONE shared shingle capped out the capped-Jaccard lower bound is
    // 4/(5+5-4)=0.667 < 0.8, so their edge exists iff shingle
    // s="gamma delta epsilon" is under the cap. Epoch 1 ADDS doc 7 —
    // unrelated to 1,2 (one shared shingle, J=1/9) — pushing df(s)
    // 2→3 over cap=2: the 1–2 edge is destroyed between two docs the
    // delta never names. Epoch 2 REMOVES doc 7: df(s) back to 2, the
    // edge re-forms — and the naive seed set is provably EMPTY (7's
    // prior cluster is a singleton of a now-absent doc), so an
    // uncapped-style closure would carry the stale split forever. Each
    // epoch runs the chain form the capped loop runs (the prior hot set
    // derived from the old snapshot's postings); its recomputed delta ∪
    // the prior rows the delta cannot touch must equal the from-scratch
    // capped ledger row-for-row, and feeds back as the next epoch's
    // prior (ledger in, ledger out).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.{Corpus, Dedup}
    val cap = 2
    val nearDup = "alpha beta gamma delta epsilon zeta eta"
    val fillers = (3L to 6L).map(i => i -> s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f")
    val e0 = (Seq(1L -> nearDup, 2L -> nearDup) ++ fillers).toDF("doc_id", "text")
    val hotDoc = Seq(7L -> "ppp qqq gamma delta epsilon rrr sss")
    val e1 = (Seq(1L -> nearDup, 2L -> nearDup) ++ fillers ++ hotDoc).toDF("doc_id", "text")
    val e2 = e0 // doc 7 removed again

    // the next full ledger, eagerly checkpointed in `scope`
    def cappedNext(prior: org.apache.spark.sql.DataFrame,
                   oldDocs: org.apache.spark.sql.DataFrame,
                   newDocs: org.apache.spark.sql.DataFrame, scope: Scope) = Scope.around { epoch =>
      val idx = Snapshot.InMemoryPostings(Snapshot.postings(newDocs))
      val (delta, _) = Snapshot.incrementalLedgerDeltaCheckpointedCapped(
        prior, Snapshot.manifest(oldDocs), Snapshot.manifest(newDocs), _ => idx,
        ids => newDocs.join(ids, Seq("doc_id"), "left_semi"), 25, cap,
        Dedup.hotShingles(Snapshot.postings(oldDocs), cap),
        ids => Snapshot.postings(oldDocs).join(ids, Seq("doc_id"), "left_semi"), idx.forDocs,
        epoch)
      val deltaIds = Snapshot.diff(Snapshot.manifest(oldDocs), Snapshot.manifest(newDocs))
        .select(col("doc_id"))
      scope.checkpoint(delta.unionByName(
        prior.join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .join(deltaIds, Seq("doc_id"), "left_anti")))
    }
    def fromScratch(docs: org.apache.spark.sql.DataFrame) =
      Corpus.ledger(docs, Some(cap)).orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    def naiveSeeds(prior: org.apache.spark.sql.DataFrame,
                   oldDocs: org.apache.spark.sql.DataFrame,
                   newDocs: org.apache.spark.sql.DataFrame): Set[Long] = {
      val delta = Snapshot.diff(Snapshot.manifest(oldDocs), Snapshot.manifest(newDocs))
      val deltaIds = delta.select(col("doc_id"))
      val mates = prior.join(deltaIds, "doc_id").select(col("cluster_id")).distinct()
        .join(prior, "cluster_id").select(col("doc_id"))
        .join(Snapshot.manifest(newDocs).select(col("doc_id")), Seq("doc_id"), "left_semi")
      delta.filter(col("status") =!= "removed").select(col("doc_id")).union(mates)
        .collect().map(_.getLong(0)).toSet
    }

    Scope.around { scope =>
      val ledger0 = scope.checkpoint(Corpus.ledger(e0, Some(cap)))
      // the engineered premise: 1,2 clustered at epoch 0, split at epoch 1
      val cluster0 = ledger0.filter(col("doc_id") === 2L).select(col("cluster_id"))
        .collect().head.getLong(0)
      assert(cluster0 == 1L, s"epoch 0 premise: doc 2 should cluster under 1, got $cluster0")
      assert(!Set(1L, 2L).subsetOf(naiveSeeds(ledger0, e0, e1)),
        "engineered premise broken: docs 1,2 must be OUTSIDE the naive seed set at epoch 1")

      val next1 = cappedNext(ledger0, e0, e1, scope)
      val got1 = next1.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(got1 == fromScratch(e1),
        "epoch 1 (crossing UP via an added holder): capped incremental diverged")
      assert(got1.find(_.head == 2L).get(1) == 2L,
        "epoch 1 premise: the 1-2 cluster should have split under the capped graph")

      assert(naiveSeeds(next1, e1, e2).isEmpty,
        "engineered premise broken: epoch 2's naive seed set must be EMPTY " +
          "(removed doc with a singleton prior cluster)")
      val next2 = cappedNext(next1, e1, e2, scope)
      val got2 = next2.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(got2 == fromScratch(e2),
        "epoch 2 (crossing DOWN via a removed holder): capped incremental diverged")
      assert(got2.find(_.head == 2L).get(1) == 1L,
        "epoch 2 premise: the 1-2 cluster should have re-formed")
    }
  }
}
