package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — extra names restrict the run
    // (and the dumped oracle json) to those queries: dev-loop iteration
    // on one operator without paying the full-suite dump. The driver
    // always passes exactly two args, so its contract is unchanged.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    def selected[A](m: Map[String, A]): Map[String, A] =
      if (only.isEmpty) m else m.view.filterKeys(only).toMap
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // every query runs cold, as in Bench: nothing computed for one
    // query is reused by another (a check's own shared passes are
    // released when its verdict is collected, Tables.verdict)
    selected(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release lazily-returned operators' shared-pass caches between
      // queries (ADVICE r5) — same hook as Bench
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A restricted run additionally records WHICH queries it refreshed
    // (oracle-checked or not): stale rows-only leftovers from an EARLIER
    // partial run into the same outDir must not count as checked by this
    // one (ADVICE r6) — an mtime fence can't tell two partial runs
    // apart, a manifest can. Only the partial file carries the key; the
    // driver's full-run file schema is unchanged.
    // Build from ONE joined entry list (manifest entry + oracle entries)
    // so a restricted run whose query set has no oracle SQL doesn't emit
    // a dangling comma (invalid JSON) after the manifest (ADVICE r7).
    val refreshed =
      if (only.isEmpty) Seq.empty[String]
      else Seq(s"${q("__refreshed__")}: ${only.toSeq.sorted.map(q).mkString("[", ",", "]")}")
    val entries = refreshed ++ selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
    val json = entries.mkString("{", ",", "}")
    // A restricted (dev-loop) run dumps to a DIFFERENT file: if it shared
    // the full-run name, a later reader of this outDir would silently
    // compare only the restricted query set and report it as a full pass
    // (ADVICE r5). tools/check.py falls back to the partial file with a
    // loud banner.
    val oracleFile = if (only.isEmpty) "oracle_sql.json" else "oracle_sql.partial.json"
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
