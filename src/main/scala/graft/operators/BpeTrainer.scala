package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** H12: BPE vocabulary TRAINING (Sennrich et al. 2016) — the merge
  * loop h11's pair statistics are the first step of, run to a merge
  * budget.
  *
  * Scale structure: the corpus is scanned ONCE, into a word-frequency
  * vocab (one shuffle, W distinct words); every training round after
  * that operates on the VOCAB table, which is corpus-size-independent
  * (Heaps' law: W ≪ corpus tokens at 100 TB). Each round is one
  * vocab-sized pair aggregation (map-side combined, keyed by the
  * pair) + one row-local merge application. The per-round argmax is a
  * single collected row — the trained artifact itself, same contract
  * as the k-means/PQ codebook collects (bounded by the merge budget,
  * never by data).
  *
  * Symbol sequences are encoded as a string with every symbol
  * PREFIXED by one space (" c a t"): `replace(seq, " a b", " ab")`
  * is then exactly the greedy left-to-right non-overlapping merge
  * BPE specifies — the prefix space anchors each pattern to a symbol
  * boundary (no false match inside a longer symbol), and because the
  * pattern carries no trailing space, back-to-back merges chain in
  * one pass (" a a a a" → " aa aa", not " aa a a"). Both engines'
  * `replace` scan left-to-right without overlap, so the oracle
  * replays the application verbatim.
  */
object BpeTrainer {

  /** Learned merge table: (merge_rank, lhs, rhs, merged, pair_count),
    * one row per round, `merges` rounds (fewer if the vocab runs out
    * of adjacent pairs). Ties break (count desc, lhs asc, rhs asc) —
    * deterministic cross-engine.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), concat(lit(" "),
        array_join(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), " ")).as("seq"))
    trainLoop(docs.sparkSession, vocab, merges)
  }

  /** The merge loop shared by the char-grain (H12) and byte-grain
    * (H12c) trainings: `vocab` is any (freq, seq) frame in the
    * space-prefixed symbol encoding.
    *
    * Memoized ([[TrackedCache.memo]]): the loop's per-round state is
    * plan-keyed-persisted (so round frames share across identical
    * trainings), but each call still pays `merges` sequential collect
    * jobs of pure driver round-trip — and four declared queries (h12
    * train / h12b tokenize, h12c / h12d byte-grain) re-run the
    * identical training. The trained artifact is `merges` rows —
    * parameter-bounded, never data-bounded — and a recompute yields
    * identical rows (deterministic tie-break).
    */
  private def trainLoop(spark: org.apache.spark.sql.SparkSession,
                        vocab: DataFrame, merges: Int): DataFrame = {
    import spark.implicits._
    TrackedCache.memo(spark,
        ("bpe-merges", TrackedCache.planKey(vocab), merges)) {
      var seqs = TrackedCache.persist(vocab)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long)]
      var k = 1
      var exhausted = false
      while (k <= merges && !exhausted) {
        val ss = filter(split(col("seq"), " "), s => s =!= "")
        val best = seqs
          .select(col("freq"), ss.as("ss"))
          .filter(size(col("ss")) >= 2)
          .select(col("freq"), explode(zip_with(
            slice(col("ss"), lit(1), size(col("ss")) - 1),
            slice(col("ss"), lit(2), size(col("ss")) - 1),
            (x, y) => struct(x.as("lhs"), y.as("rhs")))).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1)
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val a: String = best(0).getString(0)
          val b: String = best(0).getString(1)
          val cnt: Long = best(0).getLong(2)
          out += ((k, a, b, a + b, cnt))
          seqs = TrackedCache.persist(seqs.select(col("freq"),
            call_function("replace", col("seq"),
              lit(" " + a + " " + b), lit(" " + a + b)).as("seq")))
          k += 1
        }
      }
      out.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    }
  }

  /** Collected merge list of [[bpeTrain]], in rank order — the
    * trained artifact a tokenizer ships (bounded by the merge
    * budget, never by data; the codebook-collect contract).
    */
  def trainMerges(docs: DataFrame, textCol: String,
                  merges: Int): Seq[(String, String)] =
    bpeTrain(docs, textCol, merges).orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Symbol count of ONE token under a trained merge list — the
    * apply side of BPE (what the production tokenizer runs per
    * token): the K merges compose into one row-local projection (K
    * chained `replace` calls over the prefix-space encoding, in rank
    * order — rank order IS application order in BPE), codegen'd, no
    * join, no state. Zero shuffles: at 100 TB the tokenize pass is
    * scan-bound, exactly like the real pipeline.
    */
  def bpeSymbolCount(tok: Column, merges: Seq[(String, String)]): Column = {
    val seq0 = concat(lit(" "),
      array_join(transform(sequence(lit(1), length(tok)),
        i => tok.substr(i, lit(1))), " "))
    val seqN = merges.foldLeft(seq0) { case (acc, (a, b)) =>
      call_function("replace", acc, lit(" " + a + " " + b), lit(" " + a + b))
    }
    size(filter(split(seqN, " "), s => s =!= ""))
  }

  // ------------------------------------------------------------------
  // H12c/H12d — BYTE-level BPE (the GPT-2 tokenizer class): the r15
  // verdict's what-is-missing #4. H12 trains at char/word grain, so a
  // character outside the seed alphabet is unsegmentable; the
  // production spelling operates on UTF-8 BYTES with a 256-symbol
  // base alphabet, so ANY text — non-Latin scripts, emoji, astral
  // code points — segments by construction. Two deltas vs H12, both
  // reusing the same trainLoop/replace machinery:
  //
  //  1. PRE-TOKENIZATION is the GPT-2-class regex (letters / digits /
  //     punctuation runs, each with an optional attached leading
  //     space) instead of whitespace split, and case is PRESERVED
  //     (byte fidelity is the point). Deviation from the published
  //     GPT-2 pattern, documented: the contraction alternatives
  //     ('s|'t|…) and the `\s+(?!\S)` trailing-whitespace lookahead
  //     are dropped — DuckDB's RE2 oracle has no lookahead, and the
  //     remaining alternatives are first-char-DISJOINT so greedy
  //     leftmost matching is engine-order-independent (residual
  //     whitespace runs carry no merge statistics either way). Spark
  //     and DuckDB run the IDENTICAL pattern string.
  //
  //  2. The symbol alphabet is the 256 two-hex-digit byte spellings:
  //     seq0 = lower(hex(utf8_bytes(w))) split into 2-char groups,
  //     space-prefix-encoded. Both engines build it from the SAME
  //     builtin chain (`hex(encode(w))`), so a multi-byte char ("é" →
  //     "c3 a9", "𝄞" → "f0 9d 84 9e") contributes its real UTF-8
  //     bytes — no codepoint arithmetic, no custom expression, fully
  //     codegen'd. Merged symbols concatenate hex pairs ("c3a9"), and
  //     the prefix-space replace trick is unchanged.
  // ------------------------------------------------------------------

  /** GPT-2-class pre-tokenization pattern (shared verbatim with the
    * DuckDB oracle — keep RE2-compatible: no lookahead, no backrefs).
    */
  val BytePretokenPattern: String =
    " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Pre-token array of one text under [[BytePretokenPattern]]. */
  def pretokens(text: Column): Column =
    regexp_extract_all(text, lit(BytePretokenPattern), lit(0))

  /** Space-prefixed byte-symbol sequence of one pre-token:
    * " 63 61 74" for "cat", " 20 c3 a9" for " é".
    */
  def byteSeq(tok: Column): Column = {
    val h = lower(hex(encode(tok, "UTF-8")))
    concat(lit(" "), array_join(
      transform(sequence(lit(1), (length(h) / 2).cast("int")),
        i => h.substr(i * 2 - 1, lit(2))), " "))
  }

  /** Byte-level merge table, same shape/tie-break as [[bpeTrain]];
    * lhs/rhs/merged are hex byte-run spellings.
    */
  def bpeTrainBytes(docs: DataFrame, textCol: String,
                    merges: Int): DataFrame =
    trainLoop(docs.sparkSession,
      docs.select(explode(pretokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"), byteSeq(col("w")).as("seq")),
      merges)

  /** Collected byte-level merge list in rank order. */
  def trainMergesBytes(docs: DataFrame, textCol: String,
                       merges: Int): Seq[(String, String)] =
    bpeTrainBytes(docs, textCol, merges).orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Symbol count of ONE pre-token under a trained byte-level merge
    * list — row-local replace chain over the byte-symbol encoding,
    * zero joins; defined for ANY input string (256-symbol base
    * alphabet), which is the whole point vs [[bpeSymbolCount]].
    */
  def byteSymbolCount(tok: Column, merges: Seq[(String, String)]): Column = {
    val seqN = merges.foldLeft(byteSeq(tok)) { case (acc, (a, b)) =>
      call_function("replace", acc, lit(" " + a + " " + b), lit(" " + a + b))
    }
    size(filter(split(seqN, " "), s => s =!= ""))
  }
}
