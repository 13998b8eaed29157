package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scale BPE tokenizer training (SURVEY §2.7, training-pipeline
  * extension) — the merge-table learner of Sennrich et al., "Neural
  * Machine Translation of Rare Words with Subword Units", reshaped for
  * a distributed corpus.
  *
  * Classic BPE is a single-machine loop over an in-memory word-count
  * table. The distributed formulation keeps the SAME algorithm but holds
  * the corpus-wide state where it belongs:
  *
  *  - the WORD-SHAPE relation (distinct word → current symbol string ×
  *    corpus frequency) lives distributed — at 100 TB the distinct-word
  *    space is millions of rows, but it is the corpus COMPRESSED to its
  *    frequency map, not the corpus itself; building it is one
  *    `vocab_topk`-shaped aggregation over the full scan, paid once;
  *  - each merge round is ONE aggregation over the shapes: explode
  *    adjacent symbol pairs, weight by word frequency, take the global
  *    max (deterministic tie-break: highest freq, then lexicographically
  *    smallest left then right symbol — training is reproducible);
  *  - the learned merge itself is DRIVER state by design: one row per
  *    round, the artifact a tokenizer ships;
  *  - applying a merge is a literal string `replace` over the shapes —
  *    pure codegen'd map work, no shuffle.
  *
  * Shapes are delimiter-encoded: symbols separated AND bounded by a
  * doubled `␟`, so the merge pattern `␟l␟␟r␟` (a) can never match
  * inside a longer symbol, and (b) leaves a `␟` on each side after every
  * replacement, which keeps BACK-TO-BACK occurrences matchable — one
  * left-to-right `replace` pass then merges "a a a a" into "aa aa"
  * exactly like the reference implementation's non-overlapping scan.
  * (Caveat: the corpus alphabet must not contain `␟`; a byte-level
  * production tokenizer would escape it first.)
  *
  * The shapes relation is re-materialized per round via localCheckpoint
  * (round N's plan must not embed rounds 1..N-1's replaces) with the
  * superseded round's blocks released eagerly — the
  * [[Corpus.connectedComponents]] lineage discipline.
  *
  * No driver query/oracle: merge learning is inherently iterative and
  * not single-statement SQL; the merge table is pinned by spec against
  * the hand-computed Sennrich example (BpeSpec) — the `lib` treatment,
  * like `mj_maple_juice_api`.
  */
object Bpe {

  /** One learned merge: rank = round it was learned in (0-based), the
    * two symbols joined, and the pair's weighted frequency at the time.
    */
  case class Merge(rank: Int, left: String, right: String, freq: Long)

  // The shape delimiter (U+001F) as a VISIBLE escape, not a raw control
  // char in source — the literal codepoint renders as an empty string in
  // editors/diffs, so accidental corruption would be invisible (ADVICE r5).
  private val S = "\u001f"
  private val EndWord = "</w>"

  /** The word-final marker, shared with [[graft.functions.BpeCodec]] so
    * the native encoder and the trainer agree on the symbol alphabet.
    */
  val EndWordMarker: String = EndWord

  /** `␟␟sym₁␟␟sym₂␟␟…␟␟</w>␟␟` — the delimiter-encoded symbol string. */
  private def shapeOf(word: Column): Column =
    concat(lit(S + S),
      concat_ws(S + S, concat(split(word, ""), array(lit(EndWord)))),
      lit(S + S))

  /** Distinct word → (shape, corpus freq): the training state. */
  private[operators] def wordShapes(docs: DataFrame): DataFrame =
    Tables.spread(docs)
      .select(explode(filter(split(col("text"), "\\s+"), w => w =!= lit(""))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(shapeOf(col("word")).as("shape"), col("freq"))

  /** Adjacent symbol pairs of `shape` as (left, right) structs. */
  private def pairsOf(shape: Column): Column = {
    val syms = filter(split(shape, S + S), s => s =!= lit(""))
    arrays_zip(slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1))
  }

  /** Train `numMerges` BPE merges over the corpus' whitespace words.
    *
    * `batchSize` > 1 learns UP TO that many merges per round (per
    * pair-count shuffle) — the distributed-BPE batching that makes 50k
    * merges affordable: real tokenizer training at one shuffle per merge
    * is 50k jobs. Batching is EXACT, not approximate — the merge table
    * is provably identical to `batchSize = 1`:
    *
    *  - candidates are scanned in m=1's own order (count desc, then the
    *    lexicographic tie-break), so selection order IS m=1's order;
    *  - a further candidate joins the batch only if it shares no symbol
    *    with any selected pair OR ITS MERGE RESULT — disjointness means
    *    applying the earlier merges cannot change its count, and the
    *    result string counts as a symbol because a pre-existing pair
    *    mentioning it gains occurrences when the merge applies;
    *  - the chain guard: merging (a,b) CREATES pairs (x,ab)/(ab,y),
    *    whose counts are bounded by the conflicting pairs (x,a)/(b,y) —
    *    every occurrence of a new pair contains an occurrence of the old
    *    neighbor. A candidate is batched only while its count STRICTLY
    *    exceeds the threat bound: the max count over every conflicting
    *    pair in the WHOLE fetch (a tie-count conflict can sort after the
    *    candidate, so a prefix scan is not enough) and the truncation
    *    horizon. Otherwise the round stops, because serial BPE's recount
    *    might rank a changed pair first;
    *  - the result-collision stop: the bound above assumes no
    *    PRE-EXISTING pair gains occurrences, which holds exactly when
    *    every batched result string is brand-new — so the batch closes
    *    whenever a candidate's result equals an earlier merge's result
    *    (or the word marker), the only way a multi-char symbol can
    *    pre-exist.
    *
    *    On chain-heavy corpora (Sennrich's example) batches degenerate
    *    toward one merge per round — correctly, since BPE chains are
    *    inherently sequential; on flat regions of a real vocabulary it
    *    batches, cutting rounds toward numMerges / batchSize.
    *
    * `roundsProbe`, when set, receives the selected-merge count per
    * round — the job-count evidence the spec asserts on.
    */
  def train(docs: DataFrame, numMerges: Int = 50, batchSize: Int = 1,
            roundsProbe: Option[scala.collection.mutable.Buffer[Int]] = None): Seq[Merge] =
    // a throw mid-round (executor loss, cancelled job) must not leave the
    // current shapes checkpoint pinned — the scope releases it either way
    Scope.around { scope =>
      var shapes = scope.checkpoint(wordShapes(docs))
      val merges = scala.collection.mutable.ListBuffer.empty[Merge]
      // every multi-char symbol in the relation is some earlier merge's
      // result string (or the word marker): the set a candidate's result
      // must MISS for the no-risen-pairs argument below to hold
      val priorResults = scala.collection.mutable.Set[String](EndWord)
      var exhausted = false
      while (merges.size < numMerges && !exhausted) {
        val want = math.min(batchSize, numMerges - merges.size)
        // deep fetch (batching only): the guard needs the truncation
        // horizon low in the Zipf tail for the head to clear it, and the
        // whole-fetch conflict scan needs tie-count conflicts visible; a
        // few KB of driver collect buys both. Serial training (want=1)
        // uses only the head row — fetch exactly that.
        val fetch = if (want == 1) 1 else math.max(want * 64, 256)
        val top = shapes
          .select(col("freq"), explode(pairsOf(col("shape"))).as("p"))
          .groupBy(col("p.0").as("left"), col("p.1").as("right"))
          .agg(sum(col("freq")).as("pfreq"))
          .orderBy(col("pfreq").desc, col("left"), col("right"))
          .limit(fetch)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val truncated = top.length == fetch
          val horizon = if (truncated) top.last.getLong(2) else 0L
          val rows = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          val selected = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
          val selectedPairs = scala.collection.mutable.Set.empty[(String, String)]
          val used = scala.collection.mutable.Set.empty[String]
          val createdSyms = scala.collection.mutable.Set.empty[String]
          def pick(l: String, r: String, f: Long): Unit = {
            selected += ((l, r, f)); selectedPairs += ((l, r))
            used += l; used += r
            // the merge RESULT is a symbol too: a pre-existing pair that
            // mentions it (possible when another split already built the
            // same string) gains occurrences when this merge applies, so
            // it must count as a conflict, not a disjoint candidate
            createdSyms += (l + r); used += (l + r)
          }
          pick(rows.head._1, rows.head._2, rows.head._3) // the classic m=1 step
          // RESULT-COLLISION stop: if a selected merge's result string
          // already exists as a symbol (an earlier merge built the same
          // string through a different split — the only way a multi-char
          // symbol pre-exists), pre-existing pairs mentioning it GAIN
          // occurrences when the merge applies, and those gains compound
          // across a batch beyond any fixed multiple of the conflict max
          // (a pair between TWO colliding results rises by up to three
          // neighbors' counts). No cheap bound survives, so the batch
          // closes at the collision; the head pick itself is always legal
          // (it IS the serial step).
          var stop = priorResults(rows.head._1 + rows.head._2)
          var pos = 1
          while (!stop && selected.size < want && pos < rows.length) {
            val (l, r, f) = rows(pos)
            if (used(l) || used(r)) pos += 1 // conflict row — scanned below
            else if (priorResults(l + r) || createdSyms(l + r)) stop = true
            else {
              // Threat bound — the highest count any pair can carry when
              // serial BPE recounts after applying the selection, scanned
              // over the WHOLE fetch (a tie-count conflict can sort AFTER
              // the candidate in lex order, so a running prefix max is not
              // enough). With every selected result string brand-new (the
              // collision stop above), NO pre-existing pair mentions a
              // created symbol, so nothing rises: untouched pairs keep
              // their counts (≤ base visible, ≤ horizon unfetched) and
              // brand-new pairs (x, l+r) inherit ≤ one conflicting
              // neighbor's count (every occurrence contains an (x, l) or
              // (r, y) occurrence) — all ≤ m.
              val conflicts = rows.filter { case (cl, cr, _) =>
                !selectedPairs((cl, cr)) && (used(cl) || used(cr))
              }
              val base = if (conflicts.isEmpty) 0L else conflicts.map(_._3).max
              val m = math.max(base, horizon)
              if (f > m) { pick(l, r, f); pos += 1 }
              else stop = true // serial recount could outrank this candidate
            }
          }
          selected.foreach { case (l, r, f) => merges += Merge(merges.size, l, r, f) }
          priorResults ++= createdSyms
          roundsProbe.foreach(_ += selected.size)
          val next = scope.checkpoint(shapes
            .select(selected.foldLeft(col("shape")) { case (c, (l, r, _)) =>
              replace(c, lit(S + l + S + S + r + S), lit(S + l + r + S))
            }.as("shape"), col("freq")))
          scope.release(shapes)
          shapes = next
        }
      }
      merges.toList
    }

  /** CORPUS-WIDE tokenization with a learned merge table (VERDICT r5
    * #4, re-shaped per VERDICT r6 #3): docs → (doc_id, tokens array,
    * n_bpe_tokens), the trainer-facing relation. The merge table ships
    * once per executor as a `Broadcast[BpeCodec]` and applies through
    * the native [[graft.functions.BpeEncodeExpr]] — ONE fused map pass
    * over the scan, no shuffle, no UDF, and per-row cost INDEPENDENT of
    * |merges| (single-pass priority-merge per word + per-thread word
    * memo — the production-tokenizer shape, viable at a 50k-merge
    * vocabulary where the previous |merges|-deep replace chain was
    * not). The encoder is chain-faithful by construction; BpeSpec and
    * PropertySpec pin it word-for-word against [[applyMerges]], and
    * [[tokenizeChain]] keeps the replace-chain formulation as a
    * three-way spec witness.
    */
  def tokenize(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(graft.functions.BpeCodec(merges))
    Tables.spread(docs)
      .select(col("doc_id"), graft.functions.BpeEncode.tokens(col("text"), bc).as("tokens"))
      .withColumn("n_bpe_tokens", size(col("tokens")).cast("long"))
  }

  /** The superseded replace-chain tokenize (spec witness only): every
    * word becomes its delimiter-encoded shape, shapes concatenate per
    * doc (safe: no merge has `left = </w>` — `</w>` is always
    * word-final, so the (</w>, next-word) pair is never counted, never
    * learned, and the quadruple delimiter at each word junction can't
    * match any `␟l␟␟r␟` pattern), and the merge table applies as a
    * chain of codegen'd `replace` columns in rank order. Cost is
    * |merges| scans of each doc's shape string — the scale shape
    * VERDICT r6 retired from the production path; it remains here so
    * the spec can witness native ≡ chain ≡ [[applyMerges]] on the same
    * corpus.
    */
  private[graft] def tokenizeChain(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => w =!= lit(""))
    val shape0 = array_join(transform(words, w => shapeOf(w)), "")
    val mergedShape = merges.sortBy(_.rank).foldLeft(shape0) { (c, m) =>
      replace(c, lit(S + m.left + S + S + m.right + S), lit(S + m.left + m.right + S))
    }
    Tables.spread(docs)
      .select(col("doc_id"),
        filter(split(mergedShape, S + S), s => s =!= lit("")).as("tokens"))
      .withColumn("n_bpe_tokens", size(col("tokens")).cast("long"))
  }

  /** Tokenize one word with a learned merge table (driver-side utility —
    * the spec's round-trip check; [[tokenize]] runs the same replace
    * chain as codegen'd column work over the whole corpus).
    */
  def applyMerges(word: String, merges: Seq[Merge]): Seq[String] = {
    var shape = S + S + (word.split("").toSeq :+ EndWord).mkString(S + S) + S + S
    for (m <- merges.sortBy(_.rank))
      shape = shape.replace(S + m.left + S + S + m.right + S, S + m.left + m.right + S)
    shape.split(S + S).toSeq.filter(_.nonEmpty)
  }
}
