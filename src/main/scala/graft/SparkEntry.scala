package graft

import graft.operators.{Classifier, Corpus, Dedup, MapleJuice, Multimodal, Pca, Profile, Relational, Similarity, Snapshot, TextAnalysis, Training}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * runs on any session, including one not built through
    * [[GraftSession]]: graft's native functions need no registration.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ TextAnalysis.queries ++ Classifier.queries ++ Dedup.queries ++ Corpus.queries ++ Training.queries ++ Similarity.queries ++
      graft.sources.Sdfs.queries ++ graft.streaming.Events.queries ++ Multimodal.queries ++ Snapshot.queries ++ Profile.queries ++ Pca.queries ++
      Map[String, (SparkSession, String) => DataFrame](
        "mj_wordcount" -> ((s, d) => MapleJuice.wordCount(Tables.documents(s, d))
          .orderBy("word")),
        "mj_grep" -> ((s, d) =>
          MapleJuice.grep(Tables.documents(s, d), "spark|dup")),
        "mj_partition_hash" -> ((s, d) =>
          MapleJuice.hashPartitionCheck(s, Tables.lineitem(s, d), "l_orderkey"))))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check).
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ TextAnalysis.oracle ++ Classifier.oracle ++ Dedup.oracle ++ Corpus.oracle ++ Training.oracle ++ Similarity.oracle ++
      graft.streaming.Events.oracle ++ Multimodal.oracle ++ graft.sources.Sdfs.oracle ++ Snapshot.oracle ++ Profile.oracle ++ Pca.oracle ++ Map(
      "mj_wordcount" ->
        """SELECT word, count(*) AS cnt FROM (
          | SELECT regexp_replace(unnest(string_split_regex(text, '\s+')),
          |   '[^0-9a-zA-Z]', '', 'g') AS word
          | FROM documents)
          |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
      // grep contract: per-doc non-overlapping match counts, zero-match
      // docs absent (both engines count leftmost non-overlapping)
      "mj_grep" ->
        """SELECT doc_id,
          | CAST(len(regexp_extract_all(text, 'spark|dup')) AS BIGINT) AS n_matches
          |FROM documents
          |WHERE len(regexp_extract_all(text, 'spark|dup')) > 0
          |ORDER BY doc_id""".stripMargin,
      // the hash partitioner's contract is data-determined: every key in
      // exactly one partition (split count 0), no row lost or duplicated
      "mj_partition_hash" ->
        """SELECT count(DISTINCT l_orderkey) AS n_keys, count(*) AS total_rows,
          | CAST(0 AS BIGINT) AS keys_split_across_partitions
          |FROM lineitem""".stripMargin)
}
