package graft

import java.nio.file.{Files, Path}

import graft.streaming.{Chain, ChainStore, Fold, GenerationalStore, LoopHooks, Retirements,
  Roles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The chain store over a temp dir. The generational protocol core
  * (markers, roles, drained-generation retirement, the generation
  * listing, the chunk cursor) and the plain store's recovery sweep,
  * commit gate and snapshot prune are file-level only, with no Spark
  * session; one leg compacts a small store through Spark, and one
  * checks that a scope releases the frames it holds. */
class ChainStoreSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("k", LongType)))

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_chainstore_spec")
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def withStore(body: (Path, GenerationalStore) => Unit): Unit =
    withDir(dir => body(dir, new GenerationalStore(dir, "k", "primary", schema, "counts", "source", schema)))

  /** Create `dir/batch=e` holding one placeholder part file, committed
    * (`_SUCCESS`) when asked. */
  private def epochDir(dir: Path, e: Long, success: Boolean): Path = {
    val d = Files.createDirectories(dir.resolve(s"batch=$e"))
    Files.write(d.resolve("part-0.parquet"), Array[Byte](1))
    if (success) Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
    d
  }

  private def entries(dir: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val list = Files.list(dir)
    try list.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally list.close()
  }

  test("roles through trip, cutover, a replay of the cutover epoch and the re-arm") {
    withStore { (dir, store) =>
      assert(store.beginEpoch(0) == Roles(1, None, 1))
      // trip at epoch 1: generation 2 is the target, generation 1 still commits
      assert(store.trip(1, 1) == ((2, 1L)))
      assert(store.beginEpoch(1) == Roles(1, Some((2, 1L)), 1), "replayed trip epoch")
      assert(store.beginEpoch(2) == Roles(1, Some((2, 1L)), 1))
      store.cutover(2, 2)
      assert(store.activeGeneration == 2)
      // a replay of the cutover epoch still sees in-flight roles, so its
      // commit write goes to generation 1 and the chunk rows survive
      assert(store.beginEpoch(2) == Roles(2, Some((2, 1L)), 1), "replayed cutover epoch")
      assert(Files.exists(dir.resolve("migration")))
      // the first epoch past the cutover deletes the marker: re-armed
      assert(store.beginEpoch(3) == Roles(2, None, 2))
      assert(!Files.exists(dir.resolve("migration")))
      assert(store.beginEpoch(3) == Roles(2, None, 2), "replayed re-arm epoch")
      // the next migration runs the same path
      assert(store.trip(2, 5) == ((3, 5L)))
      assert(store.beginEpoch(5) == Roles(2, Some((3, 5L)), 2))
    }
  }

  test("drained generations retire whole, chains and markers; the commit generation and above survive") {
    withStore { (dir, store) =>
      for (g <- 1 to 3; name <- Seq("primary", "counts", "model"))
        Files.createDirectories(dir.resolve(s"${name}_g$g"))
      Seq("posrate_g1", "posrate_g2").foreach(f => Files.write(dir.resolve(f), "0.5".getBytes("UTF-8")))
      Seq("source", "tombstones").foreach(d => Files.createDirectories(dir.resolve(d)))
      assert(store.generations == Seq(1, 2, 3))
      store.retireDrained(2)
      assert(store.generations == Seq(2, 3))
      val after = Seq("counts_g2", "counts_g3", "model_g2", "model_g3", "posrate_g2",
        "primary_g2", "primary_g3", "source", "tombstones")
      assert(entries(dir) == after)
      store.retireDrained(2)
      assert(entries(dir) == after, "retirement is idempotent")
    }
  }

  test("the generation listing reads the chains on disk, generation 9 and above included") {
    withStore { (dir, store) =>
      Seq(1, 9, 10, 12).foreach(g => Files.createDirectories(dir.resolve(s"primary_g$g")))
      Files.createDirectories(dir.resolve("counts_g11")) // another chain's generation
      Files.write(dir.resolve("primary_g13"), Array.emptyByteArray) // a file, not a chain
      assert(store.generations == Seq(1, 9, 10, 12))
    }
  }

  test("the chunk cursor covers every bucket exactly once, then yields nothing") {
    assert(ChainStore.cursor(1, 1, 16) == (0 until 16))
    assert(ChainStore.cursor(1, 2, 16) == (16 until 32))
    assert(ChainStore.cursor(1, 3, 16).isEmpty)
    assert((0 until 4).flatMap(i => ChainStore.cursor(7, 7 + i, 10)) == (0 until 32))
  }

  test("the recovery sweep repairs a stranded compaction swap in every declared chain") {
    withDir { dir =>
      val chains = Seq(Chain("a", schema, bucketBy = Some("k")), Chain("b", schema),
        Chain("c", schema, fold = Fold.Lww, commits = true))
      val store = new ChainStore(dir, "k", chains)
      val marker = "_graft_target_epoch"
      // a: an incomplete snapshot (no marker) beside the intact chain — discarded
      epochDir(dir.resolve("a"), 0, success = true)
      Files.createDirectories(dir.resolve("a/_compact_tmp"))
      // b: a complete snapshot whose target was moved aside — swapped in;
      // the aside copy and the consumed delta below it are dropped
      epochDir(dir.resolve("b"), 0, success = true)
      Files.write(Files.createDirectories(dir.resolve("b/_compact_old")).resolve("part-0.parquet"),
        Array[Byte](1))
      val tmp = Files.createDirectories(dir.resolve("b/_compact_tmp"))
      Files.write(tmp.resolve("part-0.parquet"), Array[Byte](1))
      Files.write(tmp.resolve(marker), "1".getBytes("UTF-8"))
      // c: a swapped-in base whose consumed delta was never pruned
      epochDir(dir.resolve("c"), 0, success = true)
      Files.write(epochDir(dir.resolve("c"), 2, success = true).resolve(marker), "2".getBytes("UTF-8"))
      store.recover()
      assert(entries(dir.resolve("a")) == Seq("batch=0"))
      assert(entries(dir.resolve("b")) == Seq("batch=1"))
      assert(entries(dir.resolve("b/batch=1")) == Seq(marker, "part-0.parquet"))
      assert(entries(dir.resolve("c")) == Seq("batch=2"))
      store.recover()
      assert(Seq("a", "b", "c").map(c => entries(dir.resolve(c))) ==
        Seq(Seq("batch=0"), Seq("batch=1"), Seq("batch=2")), "the sweep is idempotent")
    }
  }

  test("the commit gate skips an epoch where only some commit chains have _SUCCESS") {
    withDir { dir =>
      val store = new ChainStore(dir, "k", Seq(Chain("corpus", schema, bucketBy = Some("k")),
        Chain("manifest", schema, commits = true), Chain("ledger", schema, fold = Fold.Lww, commits = true)))
      assert(store.committedBelow(5).isEmpty, "no store yet means no prior epoch")
      Seq("manifest", "ledger").foreach(c => epochDir(dir.resolve(c), 0, success = true))
      // epoch 1: the manifest committed, the ledger torn (files, no marker)
      epochDir(dir.resolve("manifest"), 1, success = true)
      epochDir(dir.resolve("ledger"), 1, success = false)
      // epoch 2: the ledger committed, the manifest never written;
      // epoch 3: only a non-commit chain
      epochDir(dir.resolve("ledger"), 2, success = true)
      epochDir(dir.resolve("corpus"), 3, success = true)
      assert(store.committedBelow(5).contains(0L))
      assert(store.committedBelow(0).isEmpty, "strictly below")
      Files.write(dir.resolve("ledger/batch=1/_SUCCESS"), Array.emptyByteArray)
      assert(store.committedBelow(5).contains(1L))
      assert(store.committedBelow(1).contains(0L))
    }
  }

  test("LoopHooks: an unrequested meter never runs, a replayed key supersedes, the crash fires once at its stage") {
    val hooks = new LoopHooks(meters = Set(LoopHooks.DeltaRows, LoopHooks.GateInput),
      crash = Some(LoopHooks.Crash(2L, LoopHooks.AfterStores)))
    var evaluated = 0
    hooks.record(LoopHooks.CellStatsInput, 0L) { evaluated += 1; 7L }
    LoopHooks.none.record(LoopHooks.DeltaRows, 0L) { evaluated += 1; 7L }
    assert(evaluated == 0, "an unrequested meter's value block ran")
    assert(hooks(LoopHooks.CellStatsInput).isEmpty && LoopHooks.none(LoopHooks.DeltaRows).isEmpty)
    // epoch 1 replays: its second entry replaces the first, in place
    hooks.record(LoopHooks.DeltaRows, 0L)(10L)
    hooks.record(LoopHooks.DeltaRows, 1L)(11L)
    hooks.record(LoopHooks.DeltaRows, 2L)(12L)
    hooks.record(LoopHooks.DeltaRows, 1L)(13L)
    assert(hooks(LoopHooks.DeltaRows) == Seq((0L, 10L), (1L, 13L), (2L, 12L)))
    // the gate meter keys on (epoch, generation): a replay supersedes
    // its own generation's entry and no other
    hooks.record(LoopHooks.GateInput, (3L, 1))(4L)
    hooks.record(LoopHooks.GateInput, (3L, 2))(5L)
    hooks.record(LoopHooks.GateInput, (3L, 2))(6L)
    assert(hooks(LoopHooks.GateInput) == Seq(((3L, 1), 4L), ((3L, 2), 6L)))
    // the crash point: only at its epoch and stage, with `when` holding,
    // and only once per loop run
    assert(!LoopHooks.none.crashPoint.configured)
    val crash = hooks.crashPoint
    assert(crash.configured)
    crash.fire(1L, LoopHooks.AfterStores, "post-stores")
    crash.fire(2L, LoopHooks.EpochEnd, "post-write")
    crash.fire(2L, LoopHooks.AfterStores, "post-stores", when = false)
    val e = intercept[RuntimeException](crash.fire(2L, LoopHooks.AfterStores, "post-stores"))
    assert(e.getMessage == "injected post-stores crash at epoch 2")
    crash.fire(2L, LoopHooks.AfterStores, "post-stores") // the replay runs through
    intercept[RuntimeException](hooks.crashPoint.fire(2L, LoopHooks.AfterStores, "post-stores"))
  }

  test("the snapshot prune keeps exactly the current epoch and its committed predecessor") {
    withDir { dir =>
      val hot = Chain("hot", schema, snapshot = true)
      val store = new ChainStore(dir, "k", Seq(Chain("ledger", schema, fold = Fold.Lww, commits = true), hot))
      (0L to 2L).foreach(e => epochDir(dir.resolve("ledger"), e, success = true))
      epochDir(dir.resolve("ledger"), 3, success = false) // torn: not a predecessor
      (0L to 4L).foreach(e => epochDir(dir.resolve("hot"), e, success = true))
      val hooks = new LoopHooks(meters = Set(LoopHooks.SnapshotDirs))
      store.pruneSnapshots(4, hooks)
      assert(entries(dir.resolve("hot")) == Seq("batch=2", "batch=4"))
      assert(hooks(LoopHooks.SnapshotDirs) == Seq((4L, Seq(2L, 4L))))
      store.pruneSnapshots(4, hooks)
      assert(entries(dir.resolve("hot")) == Seq("batch=2", "batch=4"), "the prune is idempotent")
      assert(entries(dir.resolve("ledger")).size == 4, "delta chains are never pruned")
    }
  }

  test("the epoch listing returns exactly the numeric batch= epochs") {
    withDir { dir =>
      assert(ChainStore.epochDirs(dir.resolve("absent")).isEmpty, "a missing chain lists nothing")
      Seq(3L, 0L, 12L).foreach(e => epochDir(dir, e, success = e != 12L))
      Seq("_compact_tmp", "_compact_old", "batch=x", "batch=", "batch=1e3", "bucket=4")
        .foreach(n => Files.createDirectories(dir.resolve(n)))
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      assert(ChainStore.epochDirs(dir) == Seq(0L, 3L, 12L).map(e => e -> dir.resolve(s"batch=$e")))
      assert(ChainStore.committedEpochsBelow(dir.toString, 12) == Seq(0L, 3L))
      assert(ChainStore.committedEpochsBelow(dir.toString, 13) == Seq(0L, 3L), "batch=12 is torn")
    }
  }

  test("compaction keeps each chain's bucket layout and its resolved reads") {
    val spark = TestSpark.spark
    import spark.implicits._
    withDir { dir =>
      val docs = Chain("docs", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))), bucketBy = Some("doc_id"))
      val index = Chain("index", StructType(Seq(StructField("doc_id", LongType),
        StructField("h", LongType))), bucketBy = Some("h"))
      val verdict = Chain("verdict", StructType(Seq(StructField("doc_id", LongType),
        StructField("v", LongType))), fold = Fold.Lww, commits = true)
      val counts = Chain("counts", ChainStore.AdditiveSchema, fold = Fold.Additive)
      val store = new ChainStore(dir, "doc_id", Seq(docs, index, verdict, counts))
      def land(epoch: Long, ids: Seq[Long], tombs: Seq[Long], text: String, v: Long): Unit = {
        val df = ids.toDF("doc_id")
        store.tombstoneWrite(Retirements(None, tombs.toDF("doc_id"), tombs.nonEmpty), epoch)
          .foreach(_())
        store.writeDelta(docs, epoch, df.withColumn("text", org.apache.spark.sql.functions.lit(text)))
        store.writeDelta(index, epoch, df.withColumn("h", col("doc_id") % 7)
          .unionByName(df.withColumn("h", col("doc_id") % 5 + 100)))
        store.writeDelta(verdict, epoch, df.withColumn("v", org.apache.spark.sql.functions.lit(v)))
      }
      land(0, 1L to 20L, Nil, "first", 0)
      land(1, 1L to 5L, 1L to 5L, "second", 1) // re-deliveries supersede their old rows
      land(2, Seq(21L), Seq(20L), "third", 2) // 20 removed (no rows), 21 added
      // an LWW-only update: no tombstone, the newest row per key wins
      store.writeDelta(verdict, 2, Seq((6L, 9L), (21L, 2L)).toDF("doc_id", "v"))
      // signed per-cell counts, newest delta below the other chains'
      // (epoch 1): cell 9 drains to zero
      store.writeDelta(counts, 0, Seq((1, 3L), (9, 2L), (4, 1L)).toDF("cell", "n"))
      store.writeDelta(counts, 1, Seq((1, -1L), (9, -2L), (1, 5L)).toDF("cell", "n"))
      def read(c: Chain) = store.resolved(spark, c).collect().map(_.toSeq).toSeq
        .sortBy(_.toString)
      val before = Seq(docs, index, verdict, counts).map(read)
      assert(before(0).size == 20 && before(2).size == 20)
      assert(before(3).map(r => (r(0), r(1))).toSet == Set[(Any, Any)]((1, 7L), (4, 1L), (9, 0L)))
      assert(store.compact(spark, 3, new LoopHooks(compactEvery = 3)))
      Seq(docs, index, verdict).foreach(c => assert(entries(dir.resolve(c.name)) == Seq("batch=2")))
      assert(entries(dir.resolve("counts")) == Seq("batch=1"))
      assert(Seq(docs, index, verdict, counts).map(read) == before, "a fold changed a resolved read")
      // the additive base is the per-cell sum, zero sums kept
      assert(spark.read.parquet(store.dir(counts)).collect().map(r => (r.getInt(0), r.getLong(1)))
        .toSet == Set((1, 7L), (4, 1L), (9, 0L)))
      // bucketed chains keep `bucket=` dirs whose rows hash to them; the
      // LWW chain stays unbucketed
      for (c <- Seq(docs, index)) {
        assert(entries(dir.resolve(s"${c.name}/batch=2")).exists(_.startsWith("bucket=")))
        assert(spark.read.parquet(store.dir(c))
          .filter(ChainStore.chainBucket(col(c.bucketBy.get)) =!= col("bucket")).isEmpty)
      }
      assert(!entries(dir.resolve("verdict/batch=2")).exists(_.startsWith("bucket=")))
      assert(spark.read.parquet(store.dir(verdict)).groupBy(col("doc_id")).count()
        .filter(col("count") > 1).isEmpty, "the LWW chain folds to one row per key")
      // the additive chain's lower base (epoch 1) does not hold back the
      // epoch-2 tombstone: tombstones never touch it
      assert(!Files.exists(dir.resolve("tombstones")) ||
        entries(dir.resolve("tombstones")).isEmpty, "the folded tombstones are consumed")
    }
  }

  test("an epoch scope releases every frame it holds, whether its body returns or throws") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    def held(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val boom = new IllegalStateException("epoch body failed")
    // persists two frames and checkpoints one, materializing all three;
    // returns the persistent RDDs it saw before the scope closed
    def body(scope: Scope, fail: Boolean): Set[Int] = {
      scope.persist(spark.range(0, 11).toDF("a")).count()
      scope.persist(spark.range(0, 13).toDF("b")).count()
      scope.checkpoint(spark.range(0, 17).toDF("c"))
      val inside = held()
      if (fail) throw boom
      inside
    }
    val before = held()
    val thrown = intercept[IllegalStateException](Scope.around(body(_, fail = true)))
    assert(thrown eq boom, "the scope must rethrow the body's own exception")
    assert(held() == before, s"a throwing body left ${held() -- before} persisted")
    val inside = Scope.around(body(_, fail = false))
    assert((inside -- before).size == 3, s"the body should hold three frames, held ${inside -- before}")
    assert(held() == before, s"a returning body left ${held() -- before} persisted")

    // nested scopes: each child persists one frame and keeps a checkpoint
    def frame(n: Int) = spark.range(0, n).toDF("x")
    def child(scope: Scope, fail: Boolean): DataFrame = {
      scope.persist(frame(19)).count()
      val kept = scope.keep(scope.checkpoint(frame(23)))
      assert((held() -- before).size >= 2, "the child should hold its two frames")
      if (fail) throw boom
      kept
    }
    Scope.around { parent =>
      val thrownChild = intercept[IllegalStateException](parent.around(child(_, fail = true)))
      assert(thrownChild eq boom, "a child scope must rethrow the body's own exception")
      assert(held() == before,
        s"a throwing child left ${held() -- before} persisted, its kept frame included")
      val kept = parent.around(child(_, fail = false))
      assert((held() -- before).size == 1,
        s"a returning child should release its held frame and pin its kept one, held ${held() -- before}")
      assert(kept.count() == 23, "the kept frame must stay readable until the parent's end")
    }
    assert(held() == before, s"the parent's end left ${held() -- before} persisted")

    // release drops a frame once: the frame is pinned again by hand after
    // the release, and the scope's end must not release it a second time;
    // a frame the scope does not hold is refused
    val released = Scope.around { scope =>
      val f = scope.persist(frame(29))
      f.count()
      scope.release(f)
      assert(held() == before, s"release left ${held() -- before} persisted")
      intercept[IllegalArgumentException](scope.release(frame(31)))
      f.persist().count()
      f
    }
    assert(released.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the scope released an already released frame a second time")
    released.unpersist(blocking = true)
    assert(held() == before)

    // the session root pins the kept frames of a returning child
    val pinned = Scope.session.around(child(_, fail = false))
    assert((held() -- before).size == 1,
      s"Scope.session.around should pin exactly its kept frame, held ${held() -- before}")
    pinned.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = true)
    }
    assert(held() == before, s"releasing the kept frame left ${held() -- before} persisted")
  }
}
