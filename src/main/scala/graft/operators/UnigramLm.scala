package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** H23 — Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
  * unigram model): seed a candidate vocabulary from frequent
  * substrings, iterate EM over best segmentations, prune to a target
  * vocabulary, then tokenize by per-word Viterbi. This is the
  * published alternative to H12's BPE: pieces carry log-likelihood
  * scores and segmentation maximizes total score, instead of greedy
  * merge application.
  *
  * EXACTNESS CONTRACT (what makes the train→apply loop oracle-able):
  *  - Piece scores are integer MICRO log-likelihoods: score =
  *    floor(ln(count/total)·10⁶ + 0.5) as BIGINT — one ln per piece
  *    (the h15/h19 quantization precedent), after which every DP and
  *    tie-break is integer arithmetic, bit-equal in any engine.
  *  - The E-step is TIE-INCLUSIVE Viterbi: a piece occurrence (i, j)
  *    counts iff fwd(i) + score + bwd(j) == best(word) — computed
  *    from a forward AND a backward DP, no backtracking, so ties
  *    need no arbitration at all (all maximal segmentations count;
  *    closer to true EM's expected counts than a single
  *    arbitrarily-broken path, and deterministic by construction).
  *  - The M-step drops multi-char pieces with zero usage and floors
  *    single chars at usage 1 (Kudo keeps the character alphabet so
  *    every word stays segmentable).
  *  - The final prune keeps the top `vocabSize` pieces by
  *    (score desc, piece asc) plus all single characters.
  *
  * Scale shape: everything runs at DISTINCT-WORD grain (the h12
  * precedent — corpus text is scanned once for word frequencies;
  * 100 TB of text is tens of millions of distinct words, not
  * trillions of rows), and the Viterbi DP is ROW-LOCAL: each word
  * groups its scored substring slots into one array column and the
  * DP unrolls over the ≤MaxWordLen positions as a flat expression
  * tree in ONE whole-stage-codegen projection — no per-position
  * joins, no driver segmentation loop. Per EM round the only
  * shuffles are the slot→score join, the word-grain groupBy and the
  * piece-grain usage aggregation. Words truncate to `MaxWordLen`
  * chars for the model (the tail above 12 chars is noise at corpus
  * scale; spelled identically in the oracle).
  *
  * Tokenization (apply side) runs the same row-local DP on the
  * composed metric 64·score − 1 per piece: maximizing it maximizes
  * score then minimizes piece count, and both components recover
  * exactly (n = (−C) mod 64, S = (C + n)/64) — a single integer DP
  * yields per-word piece counts and score sums, paid once per
  * DISTINCT word; the corpus pass is a scan-bound token join.
  */
object UnigramLm {

  val MaxPieceLen = 5
  val MaxWordLen = 12

  /** Unreachable-state sentinel: far below any reachable DP value
    * (scores ≥ ln(1/total)·10⁶ ≈ −2·10⁷ micro per piece, ≤ 12 pieces,
    * 64× the composed metric), far above long-overflow even chained
    * 12 deep.
    */
  val NegInf = -1000000000000000L

  /** micro-quantized ln(num/den) — the shared spelling. */
  private def lnMicro(num: Column, den: Column): Column =
    floor(log(num.cast("double") / den.cast("double")) * 1e6 + lit(0.5))
      .cast("long")

  /** (w, freq) at distinct-word grain, truncated to MaxWordLen. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("w0"))
      .select(substring(col("w0"), 1, MaxWordLen).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** All (w, freq, i, j, piece) substring slots, 0 ≤ i < j ≤ len,
    * j − i ≤ MaxPieceLen.
    */
  def pieceSlots(words: DataFrame): DataFrame =
    words
      .withColumn("i", explode(sequence(lit(0), length(col("w")) - 1)))
      .withColumn("j", explode(sequence(col("i") + 1,
        least(col("i") + MaxPieceLen, length(col("w"))))))
      .withColumn("piece", expr("substr(w, i + 1, j - i)"))

  /** Per-word slot array + dense lookup MAP under `scores`:
    * (w, freq, arr, sm) where arr = [(i, j, s, piece)...] feeds the
    * usage explode and sm maps i·MaxPieceLen + (j−i−1) → s. The DP
    * reads the MAP: ~130 GetMapValue nodes compile to one hash probe
    * each, where the first spelling's filter-lambda-per-lookup built
    * an expression forest that dominated the wall with
    * analyzer/codegen time (66 s on a 31-word vocabulary).
    */
  private def slotArrays(words: DataFrame, scores: DataFrame): DataFrame =
    pieceSlots(words).join(scores, "piece")
      .groupBy("w", "freq")
      .agg(collect_list(struct(col("i"), col("j"), col("s"), col("piece")))
        .as("arr"),
        map_from_arrays(
          collect_list(col("i") * MaxPieceLen + (col("j") - col("i") - 1)),
          collect_list(col("s"))).as("sm"))

  /** s(i, j) lookup; NULL when absent (try_: ANSI element_at throws
    * on a missing map key). Values identical to a slot-array scan,
    * so the DuckDB oracle's list_filter spelling needs no change.
    */
  private def slotScore(i: Int, j: Int): Column =
    try_element_at(col("sm"), lit(i * MaxPieceLen + (j - i - 1)))

  /** Forward DP as a withColumn CHAIN: f(0)=0, f(j) = max over i of
    * f(i) + s(i,j), NegInf when unreachable. Each stage is a NAMED
    * column referencing the previous stages as attributes — the
    * expression tree stays linear (an inlined recursive Column would
    * blow up ~5^12 nodes; CollapseProject keeps multiply-referenced
    * non-cheap aliases as separate projections, so each f_j is
    * evaluated once per row).
    */
  private def withFwd(df: DataFrame, prefix: String = "f"): DataFrame = {
    var out = df.withColumn(s"${prefix}0", lit(0L))
    for (j <- 1 to MaxWordLen) {
      val terms = (math.max(0, j - MaxPieceLen) until j).map(i =>
        coalesce(col(s"$prefix$i") + slotScore(i, j), lit(NegInf)))
      out = out.withColumn(s"$prefix$j",
        greatest(terms :+ (lit(NegInf): Column): _*))
    }
    out.withColumn(s"${prefix}l",
      array((0 to MaxWordLen).map(j => col(s"$prefix$j")): _*))
  }

  /** Backward DP, same chaining: g(len)=0, g(i) = max over j of
    * s(i,j) + g(j). Positions past the word's length stay NegInf and
    * never matter.
    */
  private def withBwd(df: DataFrame): DataFrame = {
    var out = df.withColumn(s"g$MaxWordLen",
      when(length(col("w")) === MaxWordLen, lit(0L)).otherwise(lit(NegInf)))
    for (i <- MaxWordLen - 1 to 0 by -1) {
      val terms = ((i + 1) to math.min(i + MaxPieceLen, MaxWordLen)).map(j =>
        coalesce(slotScore(i, j) + col(s"g$j"), lit(NegInf)))
      out = out.withColumn(s"g$i",
        when(length(col("w")) === i, lit(0L))
          .otherwise(greatest(terms :+ (lit(NegInf): Column): _*)))
    }
    out.withColumn("gl",
      array((0 to MaxWordLen).map(i => col(s"g$i")): _*))
  }

  /** One tie-inclusive Viterbi E-step: per-piece usage (freq-weighted
    * count of occurrences on SOME maximal segmentation) under the
    * given scores.
    */
  def viterbiUsage(words: DataFrame, scores: DataFrame): DataFrame =
    withBwd(withFwd(slotArrays(words, scores)))
      .select(col("freq"), col("fl"), col("gl"),
        element_at(col("fl"), length(col("w")) + 1).as("total"),
        explode(col("arr")).as("e"))
      .filter(element_at(col("fl"), col("e.i") + 1) + col("e.s") +
        element_at(col("gl"), col("e.j") + 1) === col("total"))
      .groupBy(col("e.piece").as("piece"))
      .agg(sum("freq").as("usage"))

  /** Full training loop: seed → `rounds` × (E, M) → prune. Returns
    * (piece, score_micro).
    *
    * Memoized ([[TrackedCache.memo]]): the EM rounds run as driver
    * collects while the frame is built, where no plan-keyed cache can
    * serve them, so every repeated training (each h23b build) would
    * re-run every round.
    */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
            rounds: Int = 2, seedCap: Int = 200): DataFrame =
    TrackedCache.memo(docs.sparkSession, ("unigram-vocab",
        docs.queryExecution.analyzed.canonicalized,
        textCol, vocabSize, rounds, seedCap)) {
      // EM state is ARTIFACT-sized (≤ seedCap + |alphabet| pieces —
      // bounded by parameters, never by data), so every fence after
      // the word-freq pass is a driver-collected LocalRelation
      // instead of a cluster-wide localCheckpoint: the r16
      // StageProfile showed the checkpoint-per-layer spelling paying
      // 43 sequential jobs of pure fixed cost for h23b (wall 3.5 s on
      // 1.6 task-s). The collect is the k-means/PQ codebook-collect
      // contract; one distributed pass per E-step remains — the only
      // corpus-scale work there is.
      val spark = docs.sparkSession
      import spark.implicits._
      // words is word-grain and read by the seed pass + every E-step
      // + (in tokenStats) the apply DP: plan-keyed persist shares ONE
      // materialization across all of them, train and apply alike.
      val words = TrackedCache.persist(wordFreqs(docs, textCol))
      val cand = pieceSlots(words).groupBy("piece").agg(sum("freq").as("cnt"))
      val keptRows = cand.orderBy(col("cnt").desc, col("piece")).limit(seedCap)
        .unionByName(cand.filter(length(col("piece")) === 1))
        .distinct()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // Spark `length` counts code points; mirror it exactly on the
      // driver (String.length is UTF-16 units — differs on astral
      // chars).
      def nChars(p: String): Int = p.codePointCount(0, p.length)
      // lnMicro stays a Spark EXPRESSION over the local rows (folded
      // by the same evaluator), so no driver float math can drift
      // from the engine's. Rows sorted for a deterministic plan.
      def scoreFrame(rows: Seq[(String, Long)]): DataFrame = {
        val tot = rows.map(_._2).sum
        rows.sortBy(_._1).toDF("piece", "cnt")
          .select(col("piece"), lnMicro(col("cnt"), lit(tot)).as("s"))
      }
      val alphabet = keptRows.collect { case (p, _) if nChars(p) == 1 => p }
      var scores = scoreFrame(keptRows)
      for (_ <- 1 to rounds) {
        // E-step: the one distributed pass per round. M-step (usage →
        // rescored pieces; multi-char zero-usage drops, chars floor
        // at 1) is driver arithmetic over the collected usage rows,
        // integer-exact.
        val um = viterbiUsage(words, scores).collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        val u = um.toSeq.filter { case (p, _) => nChars(p) > 1 } ++
          alphabet.map(c => c -> um.getOrElse(c, 1L))
        scores = scoreFrame(u)
      }
      // prune: top vocabSize by (score desc, piece asc) ∪ all single
      // chars. scores' single-char pieces ARE the alphabet (seed kept
      // every char; the M-step floor reinstates every char), so the
      // chars join of the checkpointed spelling is a length filter
      // here. Stays in Spark so the string ordering is the engine's.
      scores.orderBy(col("s").desc, col("piece")).limit(vocabSize)
        .unionByName(scores.filter(length(col("piece")) === 1))
        .distinct()
        .select(col("piece"), col("s").as("score_micro"))
    }

  /** Apply side: per-word piece count + score sum under `vocab` via
    * the composed-metric DP (64·s − 1), then per-doc aggregation.
    * Returns (doc_id, n_ws_tokens, n_pieces, score_micro_sum).
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame = {
    // memoized per (corpus, vocab): the per-word DP is fenced with
    // localCheckpoint, whose RDD scans the plan-keyed cache cannot
    // match on a repeated apply
    val perWord = TrackedCache.memo(docs.sparkSession, ("unigram-per-word",
        docs.queryExecution.analyzed.canonicalized,
        vocab.queryExecution.analyzed.canonicalized)) {
      // plan-keyed persist: when apply and train share a corpus
      // (h23b), this IS the frame train() already materialized.
      val words = TrackedCache.persist(wordFreqs(docs, textCol))
      val composed = vocab.select(col("piece"),
        (col("score_micro") * 64 - 1).as("s"))
      // UNSEGMENTABLE guard: a word containing a character absent
      // from the vocab leaves `best` at (near) the NegInf sentinel —
      // decoding that into pmod/div would emit meaningless
      // n_pieces/s_sum. Benign when apply and train share a corpus
      // (h23b), silent corruption otherwise, so decode only
      // reachable words and null the rest (the per-doc aggregation
      // below then poisons the whole doc's stats to null rather
      // than silently undercounting). best > NegInf/2 is safe: a
      // reachable word's composed metric is bounded far above it,
      // and an unreachable one is ≤ NegInf + MaxWordLen·scores.
      withFwd(slotArrays(words, composed))
        .withColumn("best", element_at(col("fl"), length(col("w")) + 1))
        .select(col("w"),
          when(col("best") > lit(NegInf / 2),
            pmod(-col("best"), lit(64L))).as("n_pieces"),
          when(col("best") > lit(NegInf / 2),
            expr("(best + pmod(-best, 64L)) div 64")).as("s_sum"))
        .localCheckpoint()
    }
    docs.select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("w0"))
      .select(col(idCol), substring(col("w0"), 1, MaxWordLen).as("w"))
      .join(perWord, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ws_tokens"),
        // null-poisoning sum: sum() skips nulls, which would report a
        // doc containing an unsegmentable word as MERELY SHORTER —
        // worse than no answer. Any null word stat nulls the doc stat.
        when(max(col("n_pieces").isNull.cast("int")) === 1, lit(null))
          .otherwise(sum(col("n_pieces"))).as("n_pieces"),
        when(max(col("s_sum").isNull.cast("int")) === 1, lit(null))
          .otherwise(sum(col("s_sum"))).as("score_micro_sum"))
  }
}
