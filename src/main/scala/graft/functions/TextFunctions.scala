package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * All are compositions of `org.apache.spark.sql.functions._` (codegen'd /
  * vectorizable) — no Scala UDFs — so they stay inside whole-stage codegen
  * and scale linearly with input bytes. Each has an exact DuckDB-SQL
  * equivalent used by the correctness oracle.
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped (mirrors the reference's word
    * splitting in /root/reference/mje/src/wc_maple.cpp:28-41).
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Count of punctuation bytes (anything outside [0-9a-zA-Z\s]). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^0-9a-zA-Z\\s]", ""))

  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / nullif(length(text), lit(0))

  /** Fraction of tokens found in `stoplist`. */
  def stopwordRatio(toks: Column, stoplist: Seq[String]): Column =
    size(filter(toks, t => t.isin(stoplist.map(lit): _*))).cast("double") /
      nullif(size(toks), lit(0)).cast("double")

  /** BPE-ish subword pieces: letter runs, digit runs, single punct marks —
    * the pre-tokenization split most BPE vocabularies start from.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Rolling polynomial fingerprint over the codepoint stream:
    * fp = fold(codepoints, acc -> (acc*31 + cp) mod 1e9+7). Backed by
    * the native codegen'd [[graft.functions.RollingHash]] expression
    * (one fused loop; the equivalent aggregate-over-split HOF pays an
    * interpreted lambda per character) — identical arithmetic to the
    * DuckDB list_reduce oracle.
    */
  def rollingFingerprint(text: Column): Column =
    RollingHash.rollingHash(text)

  /** Stopword lists used by quality scoring and language ID. */
  val stopEn = Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for")
  val stopEs = Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no")
  val stopDe = Seq("der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von")
  val stopFr = Seq("le", "les", "et", "des", "une", "du", "dans", "pour", "sur", "avec")

  /** Argmax language over stopword hit counts, ties en>es>de>fr, all-zero
    * → unknown — the shared decision rule of `text_langid`, the cleaning
    * pipeline, and stratified sampling.
    */
  def langPredict(en: Column, es: Column, de: Column, fr: Column): Column =
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("unknown")

  /** Composite 0–1 quality score: length band + stopword band + punct cap
    * + mean-token-length band, 0.25 each (the usual cheap pre-filter
    * before expensive dedup/classification stages).
    */
  def qualityScore(nChars: Column, stopRatio: Column, punctR: Column, avgTok: Column): Column =
    round(
      when(nChars.between(100, 5000), 0.25).otherwise(0.0) +
      when(stopRatio.between(0.01, 0.6), 0.25).otherwise(0.0) +
      when(punctR < 0.2, 0.25).otherwise(0.0) +
      when(avgTok.between(3.0, 10.0), 0.25).otherwise(0.0), 2)
}
