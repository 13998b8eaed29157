package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM (suites run
  * sequentially; Spark startup is ~8s, paying it once keeps `sbt test`
  * fast).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sf: String = "/root/testdata/sf0.001"

  /** The persistent RDDs still registered beyond `before`, polled for
    * up to 30 s until there are none: a scope releases its frames with
    * `blocking = false`. */
  def pinnedBeyond(before: collection.Set[Int]): Set[Int] = {
    val sc = spark.sparkContext
    def pinned() = (sc.getPersistentRDDs.keySet -- before).toSet
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (pinned().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    pinned()
  }
}
