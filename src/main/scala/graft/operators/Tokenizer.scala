package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING — greedy merge-pair induction over
  * the corpus (Sennrich et al., "Neural Machine Translation of Rare
  * Words with Subword Units"; the SentencePiece/GPT-2 vocabulary-build
  * step). [[graft.functions.SubwordBpe]] is the APPLY side (segment text
  * with a frozen vocabulary); this operator is where that vocabulary
  * comes from, run at corpus scale — the tokenizer-training stage of a
  * 100 TB data pipeline.
  *
  * Word-level BPE, the standard formulation: the corpus collapses to a
  * (word, freq) frame ONCE (distinct words ≪ corpus occurrences — this
  * frame, not the corpus, is what iterations touch; it is persisted);
  * each round counts adjacent-symbol pairs weighted by word frequency,
  * picks the max-frequency pair (ties broken lexicographically — BPE
  * needs a total order to be reproducible at all), and merges every
  * left-to-right non-overlapping occurrence in every word.
  *
  * Everything stays declarative — no driver-side collect even for the
  * argmax: the winning pair is a 1-row `orderBy(…).limit(1)` frame
  * cross-joined (broadcast) into the rewrite, so the whole N-round
  * train is one lazy plan. Symbol sequences live as SPACE-SEPARATED
  * strings (` t h e `, leading/trailing spaces as boundaries) and a
  * merge is a literal `replace(w, " l r ", " lr ")` — both engines scan
  * left-to-right and resume AFTER the replacement, which yields the
  * documented every-other-occurrence behavior inside runs of a
  * self-overlapping pair (` a a a a ` merging (a,a) → ` aa a a `: the
  * consumed separator blocks the second merge until the next round —
  * deterministic, identical on both engines, and the q112 oracle
  * replays it byte-for-byte).
  *
  * At 100 TB: the pair-count aggregate is a map-side-combined hash agg
  * over the words frame keyed on (l, r); the 1-row argmax is
  * `TakeOrderedAndProject`; the rewrite is map-only. Per round: one
  * shuffle of per-partition partial pair counts. Each round references
  * the previous words frame TWICE (argmax + rewrite), so the lazy plan
  * doubles per round — 2^rounds copies of the base chain, the q95
  * stage-diamond lesson — which is why `checkpointEvery` (default 4)
  * eagerly `localCheckpoint`s the rewritten frame every few rounds,
  * making wall-clock linear in rounds (ladder in PERF_NOTES r10; a
  * real 30k-merge vocabulary is unreachable without it). The q112
  * oracle query runs 3 rounds, below the first checkpoint, so the
  * TRAINING chain stays one pure lazy plan; the returned merge table is
  * eagerly materialized so the words cache can be released (r11).
  *
  * [[bpeMergeTableDelta]] is the same induction with INCREMENTAL pair
  * counts (per-round cost ∝ words containing the merged pair, not the
  * whole vocabulary) — merge-for-merge identical output, spec-pinned.
  */
object Tokenizer {

  /** Explode a spaced-symbol string into adjacent (l, r) pairs weighted
    * by `freq`, summed. `sequence(1, 0)` would generate a DESCENDING
    * series, so single-symbol words guard to an empty pair array.
    */
  private def pairCounts(w: DataFrame): DataFrame = {
    val syms = w.select(col("freq"),
      filter(split(col("w"), " "), x => length(x) > 0).as("s"))
    syms
      .select(col("freq"), explode(
        when(size(col("s")) > 1,
          transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i).as("lhs"),
              element_at(col("s"), i + 1).as("rhs"))))
          .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
      ).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("freq").as("f"))
  }

  /** Train `merges` BPE rounds over the whitespace words of `textCol`.
    * Returns the merge table: one row per round,
    * (step, lhs, rhs, freq, tokens_after) — the chosen pair, its
    * weighted frequency at selection time, and the corpus token count
    * after applying it (the compression trajectory; step 0's
    * `tokens_after` baseline is the plain character count plus one
    * boundary per word, i.e. Σ freq·|word|). Deterministic: the corpus
    * fixes the counts, the (freq desc, lhs, rhs) order fixes every
    * choice.
    */
  def bpeMergeTable(docs: DataFrame, textCol: String, merges: Int,
      checkpointEvery: Int = 4): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    require(checkpointEvery >= 0,
      s"checkpointEvery must be >= 0 (0 = never), got $checkpointEvery")
    val words = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist()
    var w = words.select(
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("w"),
      col("freq"))
    var steps = Vector.empty[DataFrame]
    for (step <- 1 to merges) {
      val top1 = pairCounts(w)
        .orderBy(col("f").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
      val merged = w.crossJoin(broadcast(top1))
        .select(
          replace(col("w"),
            concat(lit(" "), col("lhs"), lit(" "), col("rhs"), lit(" ")),
            concat(lit(" "), col("lhs"), col("rhs"), lit(" "))).as("w"),
          col("freq"))
      val after = merged.agg(sum(col("freq") *
        size(filter(split(col("w"), " "), x => length(x) > 0))).as("tokens_after"))
      steps = steps :+ top1.crossJoin(after)
        .select(lit(step.toLong).as("step"), col("lhs"), col("rhs"),
          col("f").as("freq"), col("tokens_after"))
      // each round references w twice (the pair counts feeding the
      // argmax AND the rewrite), so the LAZY chain doubles per round —
      // 2^rounds copies of the base plan, the q95 stage-diamond lesson.
      // Eagerly truncating every few rounds makes training linear in
      // rounds; 0 keeps the pure lazy plan (fine to ~4 rounds, and what
      // the q112 oracle query uses at 3).
      w = if (checkpointEvery > 0 && step % checkpointEvery == 0 && step < merges)
        merged.localCheckpoint(true)
      else merged
    }
    // eager result (merges rows — tiny) so the persisted words frame can
    // be released before returning: repeated training runs must not
    // accumulate cached word frames for the session's lifetime (the r10
    // leak finding, same fix as Influence.pageRankInteger)
    val out = steps.reduce(_ unionByName _).localCheckpoint(true)
    words.unpersist()
    out
  }

  /** [[bpeMergeTable]] with INCREMENTAL pair counts — the scale path for
    * real vocabularies. The recount formulation pays one pair-count
    * aggregate over the WHOLE words frame per round; but a merge only
    * changes the pair multiset of words CONTAINING the merged pair, so
    * this variant maintains the (lhs, rhs, f) frame across rounds and
    * applies a delta per round: subtract the affected words' pairs
    * before the rewrite, add them after. Per-round aggregate cost is
    * proportional to the affected words — which SHRINK as training
    * descends the frequency curve — not the corpus vocabulary; a
    * 30k-merge train does ~30k small aggregates instead of 30k full
    * ones. `tokens_after` is maintained the same way (previous total
    * minus the symbols removed in affected words).
    *
    * Every per-round frame (words, pair counts, the 1-row token total)
    * is EAGERLY localCheckpoint'd: the delta recurrence references each
    * frame multiple times, so a lazy chain would re-derive exponentially
    * (the q95 diamond lesson measured on the recount path); eager
    * truncation also keeps plan depth constant over thousands of
    * rounds. The trade: ~4 small Spark jobs per round of fixed
    * overhead, so BELOW a few hundred thousand distinct words the
    * recount path's single shuffle per round is cheaper (PERF_NOTES,
    * "Round 11: BPE delta-vs-recount").
    *
    * Output and semantics are [[bpeMergeTable]]'s, merge-for-merge
    * (spec-pinned: same pairs, same frequencies, same trajectory).
    */
  def bpeMergeTableDelta(docs: DataFrame, textCol: String,
      merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    var w = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("w"),
        col("freq"))
      .localCheckpoint(true)
    val symCount = (c: Column) =>
      size(filter(split(c, " "), x => length(x) > 0)).cast("long")
    var pc = pairCounts(w).localCheckpoint(true)
    var tok = w.agg(sum(col("freq") * symCount(col("w"))).as("tokens_after"))
      .localCheckpoint(true)
    var steps = Vector.empty[DataFrame]
    for (step <- 1 to merges) {
      val top1 = pc.orderBy(col("f").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).localCheckpoint(true)
      val pat = concat(lit(" "), col("lhs"), lit(" "), col("rhs"), lit(" "))
      val rep = concat(lit(" "), col("lhs"), col("rhs"), lit(" "))
      // the words whose pair multiset changes this round, with their
      // rewritten form alongside — the ONLY rows the delta aggregates
      val aff = w.crossJoin(broadcast(top1))
        .filter(col("w").contains(pat))
        .select(col("w"), col("freq"), replace(col("w"), pat, rep).as("w2"))
        .localCheckpoint(true)
      val newW = w.crossJoin(broadcast(top1))
        .select(when(col("w").contains(pat), replace(col("w"), pat, rep))
          .otherwise(col("w")).as("w"), col("freq"))
        .localCheckpoint(true)
      val delta = pairCounts(aff.select(col("w"), (-col("freq")).as("freq")))
        .unionByName(pairCounts(aff.select(col("w2").as("w"), col("freq"))))
      val newPc = pc.unionByName(delta)
        .groupBy("lhs", "rhs").agg(sum("f").as("f"))
        .filter(col("f") > 0)
        .localCheckpoint(true)
      val dTok = aff.agg(coalesce(sum(col("freq") *
        (symCount(col("w")) - symCount(col("w2")))), lit(0L)).as("__d"))
      val newTok = tok.crossJoin(dTok)
        .select((col("tokens_after") - col("__d")).as("tokens_after"))
        .localCheckpoint(true)
      steps = steps :+ top1.crossJoin(newTok)
        .select(lit(step.toLong).as("step"), col("lhs"), col("rhs"),
          col("f").as("freq"), col("tokens_after"))
      w = newW; pc = newPc; tok = newTok
    }
    steps.reduce(_ unionByName _)
  }

  /** Collect a [[bpeMergeTable]] result into the ordered merge list the
    * APPLY side consumes. The merge table IS the trained model — vocab-
    * sized (≤ tens of thousands of rows), a driver artifact by the same
    * contract as IVF centroids and PQ codebooks — so this is a bounded
    * model collect, not a corpus collect.
    */
  def collectMerges(mergeTable: DataFrame): Seq[(String, String)] =
    mergeTable.orderBy("step").select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** The APPLY side of merge-order BPE: tokenize `textCol` into the
    * TRAINED vocabulary by replaying the merge list, in training order,
    * over each word — the train→apply round trip that proves the
    * [[bpeMergeTable]] artifact is usable (before r11 the engine
    * trained merges and separately applied a static checked-in
    * vocabulary; nothing connected them).
    *
    * Semantics are the TRAINING rewrite's, by construction: the same
    * boundary-spaced representation, the same left-to-right
    * `replace(" l r ", " lr ")` per merge (including the documented
    * every-other-occurrence behavior inside self-overlapping runs), so
    * applying the merges to the training corpus reproduces the exact
    * per-word segmentation — and Σ n_tokens equals the final round's
    * `tokens_after` (spec-pinned).
    *
    * Scale shape: the DICTIONARY pattern (r15 — the r7 one-pass-kernel
    * playbook applied to the watch-listed per-occurrence fold). The
    * merge replay (regexp explode to boundary-spaced form + one
    * `replace` fold per merge + split/count) costs O(word length ×
    * merges) per evaluation; evaluating it per word OCCURRENCE pays
    * that for every token in the corpus, when the distinct vocabulary
    * is orders of magnitude smaller (Heaps' law — ~30k words vs ~3M
    * occurrences at sf0.1, and the ratio only grows with corpus size).
    * So the fold runs ONCE per distinct word ([[wordPieceCounts]]) and
    * a join stamps the counts onto occurrences: AQE sizes the
    * vocab-side at runtime and broadcasts it (a plan-time hint would
    * hard-fail on a web-scale vocabulary; left to AQE it degrades
    * gracefully to a shuffled join). The merge list still ships as ONE
    * literal array folded by a HOF `aggregate`, so expression depth
    * stays CONSTANT in the merge count.
    *
    * Output: (`idCol`, n_tokens) — one row per document that has at
    * least one whitespace token.
    */
  def applyMerges(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "applyMerges needs at least one merge")
    val occ = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
    occ.join(wordPieceCounts(occ, merges), Seq("word"))
      .groupBy(idCol).agg(sum("__n").as("n_tokens"))
  }

  /** The fold evaluated once per DISTINCT word: (word, __n). The
    * distinct is a map-side-combined hash aggregate over occurrences —
    * its shuffle volume is the vocabulary, not the corpus.
    */
  private def wordPieceCounts(occ: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    occ.select("word").distinct()
      .select(col("word"), pieceCount(col("word"), merges).as("__n"))

  /** Subword pieces a word segments into under the trained merge list —
    * the [[applyMerges]] fold (boundary-spaced replay, HOF `aggregate`
    * so expression depth is constant in the merge count) ending in a
    * piece count instead of a string.
    */
  private def pieceCount(word: Column, merges: Seq[(String, String)]): Column = {
    val mergeArr = array(merges.map { case (l, r) =>
      struct(lit(l).as("lhs"), lit(r).as("rhs")) }: _*)
    size(filter(split(
      aggregate(mergeArr,
        concat(lit(" "), regexp_replace(word, "(.)", "$1 ")),
        (acc, m) => replace(acc,
          concat(lit(" "), m.getField("lhs"), lit(" "),
            m.getField("rhs"), lit(" ")),
          concat(lit(" "), m.getField("lhs"), m.getField("rhs"),
            lit(" ")))),
      " "), x => length(x) > 0)).cast("long")
  }

  /** Tokenizer FERTILITY per group (Rust et al. 2021, "How Good is Your
    * Tokenizer?"): how well the trained vocabulary fits each slice of
    * the corpus — mean subword pieces per word (fertility; 1.0 = every
    * word is one piece) and the share of words split at all
    * (`pct_split`, the "continued-word rate"). The per-language /
    * per-source readout that decides whether a tokenizer trained on the
    * mixture under-serves a slice (high fertility = more compute per
    * word of that slice at train time).
    *
    * Scale shape: same as [[applyMerges]] — the dictionary pattern:
    * the constant-depth merge fold runs once per DISTINCT word, an
    * AQE-sized join stamps it onto occurrences, then one hash aggregate
    * on `groupCol`.
    *
    * Output: (groupCol, n_words, n_pieces, fertility, pct_split), one
    * row per group with ≥ 1 whitespace token.
    */
  def fertilityByGroup(docs: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "fertilityByGroup needs at least one merge")
    val occ = docs
      .select(col(groupCol), explode(tokens(col(textCol))).as("word"))
    occ.join(wordPieceCounts(occ, merges)
        .withColumnRenamed("__n", "__p"), Seq("word"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_words"),
        sum("__p").as("n_pieces"),
        graft.functions.TextFunctions.round4hu(
          sum(col("__p")).cast("double") / count(lit(1)).cast("double"))
          .as("fertility"),
        graft.functions.TextFunctions.round4hu(
          avg(when(col("__p") >= 2L, 1.0).otherwise(0.0))).as("pct_split"))
  }
}
