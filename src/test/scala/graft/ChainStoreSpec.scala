package graft

import java.nio.file.{Files, Path}

import graft.streaming.{ChainStore, GenerationalStore, Roles}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The generational chain store's protocol core over a temp dir:
  * markers, roles, drained-generation retirement, the generation
  * listing and the chunk cursor. File-level only — no Spark session. */
class ChainStoreSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("k", LongType)))

  private def withStore(body: (Path, GenerationalStore) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_chainstore_spec")
    try body(dir, new GenerationalStore(dir, "k", "primary", schema, "counts", "source", schema))
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
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
}
