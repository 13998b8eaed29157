package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over `documents` (SURVEY.md §2.5). Single-scan,
  * single-pass column pipelines — at 100 TB these are embarrassingly
  * parallel map work with no shuffle (final orderBy is presentational).
  */
object TextAnalysis {

  /** Per-doc stats + composite quality score. Token-derived columns come
    * from ONE fused [[graft.functions.TokenStats]] pass (same \s+ split
    * and stoplist semantics as the composed HOF form; oracle unchanged).
    */
  def textStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("st", graft.functions.TokenStats.tokenStats(col("text")))
      .withColumn("n_chars2", length(col("text")).cast("long"))
      .withColumn("n_tokens", col("st.n_tokens"))
      .withColumn("punct_ratio", round(punctRatio(col("text")), 6))
      .withColumn("stop_ratio", round(
        col("st.en_hits").cast("double") / nullif(col("st.n_tokens"), lit(0L)).cast("double"), 6))
      .withColumn("avg_token_len", round(
        col("st.n_nonws_chars").cast("double") / nullif(col("st.n_tokens"), lit(0L)).cast("double"), 6))
      .withColumn("quality",
        qualityScore(col("n_chars2"), col("stop_ratio"), col("punct_ratio"), col("avg_token_len")))
      .select(col("doc_id"), col("n_chars2").as("n_chars"), col("n_tokens"),
        col("punct_ratio"), col("stop_ratio"), col("avg_token_len"), col("quality"))
      .orderBy(col("doc_id"))

  /** Stopword-hit language ID (argmax over per-language hit counts, ties
    * resolved en>es>de>fr, all-zero → unknown).
    */
  def langId(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("st", graft.functions.TokenStats.tokenStats(col("text")))
      .withColumn("en_hits", col("st.en_hits"))
      .withColumn("es_hits", col("st.es_hits"))
      .withColumn("de_hits", col("st.de_hits"))
      .withColumn("fr_hits", col("st.fr_hits"))
      .withColumn("lang_pred", langPredict(
        col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")))
      .select(col("doc_id"), col("en_hits"), col("es_hits"), col("de_hits"),
        col("fr_hits"), col("lang_pred"))
      .orderBy(col("doc_id"))

  /** Whitespace vs BPE-ish token counts. */
  def tokenCount(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.TokenStats.tokenStats(col("text")).getField("n_tokens").as("n_ws_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Rolling-hash document fingerprint. */
  def fingerprint(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), rollingFingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Intra-document repetition signals — the Gopher/MassiveText-style
    * quality filters (top n-gram fraction, duplicate n-gram fraction)
    * that catch documents dominated by a repeated phrase, which plain
    * token stats miss. One fused [[graft.functions.RepetitionStats]]
    * pass per doc (no shuffle; the three grouped-count passes the HOF
    * form would need collapse into one loop). Fractions are
    * round-6dp-at-the-end like every ratio query here. A cleaning
    * pipeline drops docs above thresholds on these columns; the query
    * emits the scores so the threshold stays a consumer decision.
    */
  def repetition(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("rs", graft.functions.RepetitionStats.repetitionStats(col("text")))
      .select(col("doc_id"), col("rs.n_tokens").as("n_tokens"),
        round(col("rs.top_unigram_count").cast("double") /
          nullif(col("rs.n_tokens"), lit(0L)), 6).as("top_unigram_frac"),
        round(col("rs.top_bigram_count").cast("double") /
          nullif(greatest(col("rs.n_tokens") - 1, lit(0L)), lit(0L)), 6).as("top_bigram_frac"),
        round(col("rs.n_dup_trigrams").cast("double") /
          nullif(col("rs.n_trigrams"), lit(0L)), 6).as("dup_trigram_frac"))
      .orderBy(col("doc_id"))

  /** PII patterns shared by the Spark query and (verbatim) the DuckDB
    * oracle — anchored word-ish boundaries, no constructs where Java
    * regex and RE2 disagree (no backrefs, no lookaround).
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing — the redaction pass every pretraining pipeline runs
    * before anything else sees the text: detect emails / phone numbers /
    * IPv4 literals, count them per doc, and emit the hash of the
    * redacted text (placeholders `<EMAIL>`/`<PHONE>`/`<IP>`).
    * Replacement order matters and is fixed (emails first — they embed
    * dots and digits the narrower patterns could partially claim;
    * placeholders contain neither, so later passes can't re-match
    * earlier redactions). Pure map work over the scan: at 100 TB this
    * pass rides the same single pass as the other §2.5 scorers, no
    * shuffle. Emitting the scrubbed HASH (not the text) keeps the
    * verify relation narrow; a production pipeline selects the scrubbed
    * column itself instead.
    */
  def scrubPii(docs: DataFrame): DataFrame =
    docs
      // each stage counts on the PREVIOUS stage's output, so every count
      // equals the number of its placeholders actually present in the
      // final text — counting everything on the raw text would report
      // phantom phones/IPs for digit runs the email pass already claimed
      // (e.g. "555-123-4567@corp.com" is ONE email, zero phones)
      .withColumn("s1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("s2", regexp_replace(col("s1"), PhoneRe, "<PHONE>"))
      .withColumn("scrubbed", regexp_replace(col("s2"), IpRe, "<IP>"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("s1"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("s2"), lit(IpRe)).cast("long").as("n_ips"),
        md5(col("scrubbed").cast("binary")).as("scrubbed_hash"))
      .orderBy(col("doc_id"))

  /** Conjunctive keyword search: docs containing ALL query terms
    * (wc_maple sanitize term space via [[graft.functions.WordTokens]],
    * same as `vocab_topk`). Formulated as
    * a posting-list intersection — explode to (doc, term) postings, keep
    * only the query terms, group by doc requiring |terms| distinct hits.
    * At 100 TB the postings relation is what a search deployment
    * PRE-BUILDS (partitioned by term); each query is then a k-way
    * posting intersection over the probed terms only, never a full-text
    * scan — this operator is that intersection, with the posting build
    * inlined because the bench corpus is scanned fresh.
    */
  def search(docs: DataFrame, terms: Seq[String] = Seq("the", "data")): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"),
        explode(graft.functions.WordTokens.wordTokens(col("text"))).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("word")).as("n_matched"))
      .filter(col("n_matched") === terms.size)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** Model-based quality score — the CCNet/Gopher-style statistical LM
    * filter the heuristic scorers above can't replace: a document whose
    * word SEQUENCE is improbable under a corpus-trained language model
    * is boilerplate/garble even when its token stats look healthy.
    * Scored as the per-doc mean log-probability of each adjacent word
    * pair under an add-one-smoothed bigram model trained on the corpus
    * itself: ln((c(w1,w2) + 1) / (c(w1·) + V)), with c(w1·) the context
    * count (occurrences of w1 with a successor — the denominator that
    * makes the smoothed distribution sum to 1) and V the distinct-word
    * dictionary size.
    *
    * Shape at 100 TB: training is two aggregations over one exploded
    * pair pass (pair counts, context counts) plus a dictionary
    * count-distinct; scoring is the same pair pass joined against those
    * counts — shuffles on word keys, never all-pairs. `topK` caps the
    * bigram table to its most frequent rows (the shippable LM artifact:
    * a full 100 TB bigram table is itself corpus-sized; a capped table
    * broadcasts) — uncounted pairs fall back to pure smoothing mass,
    * which only LOWERS a doc's score, so the filter stays conservative.
    * A production run materializes the count tables once and scores
    * many corpora against them; here training is inlined so the query
    * is self-contained and oracle-checkable. Default uncapped: exact
    * parity with the DuckDB oracle.
    */
  def lmScore(docs: DataFrame, topK: Option[Int] = None): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => w =!= lit(""))
    // the shared pair pass feeds train (both counts) AND score (probe):
    // persist, not localCheckpoint — lazy return, evictable blocks (the
    // ngramJaccard policy; Bench/Verify clear between queries)
    val pairs = Tables.spread(docs)
      .select(col("doc_id"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p"))
      .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))
      .persist()
    val bcAll = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val bc = topK.map(k => bcAll.orderBy(col("c12").desc, col("w1"), col("w2")).limit(k))
      .getOrElse(bcAll)
    val uc = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = Tables.spread(docs).select(explode(words).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    pairs
      // left join: a capped table misses tail pairs → c12 = 0 (pure
      // smoothing); uncapped, every probe hits and left == inner
      .join(bc, Seq("w1", "w2"), "left")
      .join(uc, Seq("w1"))
      .crossJoin(broadcast(v)) // 1-row dictionary size
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (col("c1") + lit(1.0) * col("v")))), 6).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_score" -> ((s, d) => lmScore(Tables.documents(s, d))),
    "text_stats" -> textStats,
    "text_langid" -> langId,
    "text_tokencount" -> tokenCount,
    "text_fingerprint" -> fingerprint,
    "text_repetition" -> repetition,
    "text_scrub_pii" -> ((s, d) => scrubPii(Tables.documents(s, d))),
    "text_search" -> ((s, d) => search(Tables.documents(s, d))))

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")
  private val toksSql = """list_filter(string_split_regex(text, '\s+'), t -> t <> '')"""

  val oracle: Map[String, String] = Map(
    "text_lm_score" ->
      """WITH wl AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |  FROM documents
        |), pairs AS (
        |  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
        |  FROM wl WHERE len(l) >= 2
        |), bc AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
        |uc AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(l) AS w FROM wl))
        |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(ln((bc.c12 + 1.0) / (uc.c1 + 1.0 * v.v))), 6) AS lm_score
        |FROM pairs p JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, length(text) AS nc, $toksSql AS ts FROM documents),
         |s AS (SELECT doc_id, CAST(nc AS BIGINT) AS n_chars, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  round((nc - length(regexp_replace(text, '[^0-9a-zA-Z\\s]', '', 'g'))) * 1.0 / nullif(nc, 0), 6) AS punct_ratio,
         |  round(len(list_filter(ts, t -> t IN ${sqlList(stopEn)})) * 1.0 / nullif(len(ts), 0), 6) AS stop_ratio,
         |  round(length(regexp_replace(text, '\\s', '', 'g')) * 1.0 / nullif(len(ts), 0), 6) AS avg_token_len
         | FROM t)
         |SELECT doc_id, n_chars, n_tokens, punct_ratio, stop_ratio, avg_token_len,
         | round((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.25 ELSE 0 END) +
         |  (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 0.25 ELSE 0 END) +
         |  (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0 END) +
         |  (CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0 END), 2) AS quality
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |h AS (SELECT doc_id,
         |  CAST(len(list_filter(ts, t -> t IN ${sqlList(stopEn)})) AS BIGINT) AS en_hits,
         |  CAST(len(list_filter(ts, t -> t IN ${sqlList(stopEs)})) AS BIGINT) AS es_hits,
         |  CAST(len(list_filter(ts, t -> t IN ${sqlList(stopDe)})) AS BIGINT) AS de_hits,
         |  CAST(len(list_filter(ts, t -> t IN ${sqlList(stopFr)})) AS BIGINT) AS fr_hits
         | FROM t)
         |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
         | CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
         |  WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |  WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
         |  WHEN fr_hits > 0 THEN 'fr' ELSE 'unknown' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin,
    "text_tokencount" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_scrub_pii" -> {
      // the SAME pattern strings the query uses, spliced verbatim —
      // the two engines must never drift on a character class
      val (e, p, i) = (EmailRe, PhoneRe, IpRe)
      s"""WITH st AS (SELECT doc_id, text,
         |  regexp_replace(text, '$e', '<EMAIL>', 'g') AS s1 FROM documents),
         |st2 AS (SELECT *, regexp_replace(s1, '$p', '<PHONE>', 'g') AS s2 FROM st)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(s1, '$p')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(s2, '$i')) AS BIGINT) AS n_ips,
         | md5(regexp_replace(s2, '$i', '<IP>', 'g')) AS scrubbed_hash
         |FROM st2 ORDER BY doc_id""".stripMargin
    },
    "text_search" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |   string_split_regex(regexp_replace(text, '[^0-9a-zA-Z\s]', '', 'g'), '\s+'),
        |   x -> x <> '')) AS word FROM documents)
        |SELECT doc_id FROM w WHERE word IN ('the', 'data')
        |GROUP BY doc_id HAVING count(DISTINCT word) = 2
        |ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ts FROM documents),
        |g AS (SELECT doc_id, ts,
        |  [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))] AS bg,
        |  [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)] AS tg
        | FROM t),
        |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |  coalesce(list_max(list_transform(list_distinct(ts),
        |    x -> len(list_filter(ts, y -> y = x)))), 0) AS top_uni,
        |  coalesce(list_max(list_transform(list_distinct(bg),
        |    x -> len(list_filter(bg, y -> y = x)))), 0) AS top_bi,
        |  greatest(len(tg), 0) AS n_tri,
        |  len(list_filter(tg, x -> len(list_filter(tg, y -> y = x)) >= 2)) AS dup_tri
        | FROM g)
        |SELECT doc_id, n_tokens,
        | round(CAST(top_uni AS DOUBLE) / nullif(n_tokens, 0), 6) AS top_unigram_frac,
        | round(CAST(top_bi AS DOUBLE) / nullif(greatest(n_tokens - 1, 0), 0), 6) AS top_bigram_frac,
        | round(CAST(dup_tri AS DOUBLE) / nullif(n_tri, 0), 6) AS dup_trigram_frac
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |   (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
