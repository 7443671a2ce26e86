package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** H-group text analysis + the tokenize/shingle machinery shared by
  * the dedup family (SURVEY §2 F/H). All higher-order-function based
  * (no UDFs) so the same transforms run unchanged in a streaming plan.
  */
object TextOps {

  /** Lowercased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => w =!= "")

  /** Sliding word n-gram shingles from a token-array column. Pass a
    * MATERIALIZED column (withColumn) — `ws` is referenced per slice,
    * so an inlined tokenize expression would re-run once per shingle
    * position. A doc with fewer than n words yields one shingle (its
    * whole token string) — mirrors list-slice clamping so oracle SQL
    * matches exactly.
    */
  def shinglesFromTokens(ws: Column, n: Int): Column =
    transform(
      sequence(lit(0), greatest(size(ws) - n, lit(0))),
      i => concat_ws(" ", slice(ws, i + 1, lit(n))))

  /** Convenience (small inputs / specs): tokenize inline. Quadratic in
    * doc length — production paths use [[shinglesFromTokens]] over a
    * materialized token column.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Distinct (id, shingle) pairs — the input to Jaccard and MinHash. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingles(col(textCol), n)).as("sh")).distinct()

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** BPE-ish token count: alpha runs, digit runs, single punctuation. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Collapse whitespace, lowercase — canonical form for fingerprints. */
  def normalizeWs(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Aggressive normalization: lowercase, strip non-alnum, collapse. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Content fingerprint (md5 of the whitespace-normalized text). */
  def fingerprint(text: Column): Column = md5(normalizeWs(text))

  /** 60-bit numeric fingerprint via the codegen'd Md5Prefix64 expr. */
  def fingerprint64(text: Column): Column =
    HashFunctions.md5prefix64(normalizeWs(text))

  /** Rolling k-gram hash array over an ALREADY-NORMALIZED text
    * column — step 1 of winnowing. `norm` MUST be a materialized
    * column reference (withColumn), not an inline expression: the
    * lambda evaluates `norm` once per character position, so an
    * inlined normalizeWs (two regex passes) would turn a length-n doc
    * into O(n²) regex work — measured as a 26 s → sub-second
    * difference on the sf0.1 corpus.
    */
  def gramHashesFromNorm(norm: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
      i => HashFunctions.md5prefix64(norm.substr(i, lit(k))) % lit(graft.functions.HashUtil.P))

  /** Convenience (small inputs / specs): normalize inline. Quadratic —
    * production paths materialize normalizeWs first and use
    * [[gramHashesFromNorm]].
    */
  def gramHashes(text: Column, k: Int): Column =
    gramHashesFromNorm(normalizeWs(text), k)

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03) from a
    * materialized gram-hash column: minimum of each sliding window of
    * `w` hashes, distinct minima kept. Robust to local edits; the
    * standard document-fingerprinting scheme for near-dup detection.
    *
    * Backed by the native [[graft.functions.SlidingMinDistinct64]]
    * kernel (whole loop compiled, one pass, no per-window arrays);
    * [[winnowFromGramsComposed]] keeps the pure-HOF spelling, which
    * the spec asserts is equivalent. Shorter-than-w docs yield the
    * whole-array min — the same clamping the oracle mirrors.
    */
  def winnowFromGrams(grams: Column, w: Int): Column =
    graft.functions.HashFunctions.slidingMinDistinct64(grams, w)

  /** The composed HOF spelling of [[winnowFromGrams]]: elementwise
    * `least` over w shifted copies (out-of-range slices null-pad,
    * `least` skips nulls → clamped-window minima), then distinct.
    * Reference implementation for the equivalence spec.
    */
  def winnowFromGramsComposed(grams: Column, w: Int): Column = {
    val len = greatest(size(grams) - (w - 1), lit(1))
    array_distinct(
      (0 until w).map(i => slice(grams, lit(1 + i), len))
        .reduce((a, b) => zip_with(a, b, (x, y) => least(x, y))))
  }

  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is")
  val StopwordsEs = Seq("el", "la", "de", "que", "los", "se")
  val StopwordsDe = Seq("der", "die", "und", "das", "ist")
  val StopwordsFr = Seq("le", "la", "et", "les", "des")

  def stopwordHits(ws: Column, stopwords: Seq[String]): Column =
    size(filter(ws, w => w.isin(stopwords: _*)))

  /** Language-ID heuristic: stopword hit counts per language, argmax
    * with a fixed preference order (en > es > de > fr) on ties.
    */
  def langScores(text: Column): Seq[(String, Column)] = {
    val ws = tokens(text)
    Seq("en" -> stopwordHits(ws, StopwordsEn),
      "es" -> stopwordHits(ws, StopwordsEs),
      "de" -> stopwordHits(ws, StopwordsDe),
      "fr" -> stopwordHits(ws, StopwordsFr))
  }

  def langPredict(en: Column, es: Column, de: Column, fr: Column): Column =
    when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")

  /** H22 — token-distribution DRIFT report: per corpus slice (a
    * source, a snapshot, a crawl), the Jensen–Shannon divergence of
    * its unigram token distribution against the WHOLE corpus, plus
    * the single most drifted token by integer ppm rate delta — the
    * monitoring instrument a pipeline owner reads when a new crawl
    * lands ("which source moved, and what word moved it"). JSD is
    * the standard choice here: symmetric, bounded by ln 2, finite
    * even when a token is absent from one side (where KL blows up).
    *
    * Determinism/oracle contract: each (slice, token) contribution
    * 0.5·p·ln(p/m) + 0.5·q·ln(q/m) (m the midpoint; the p-term is 0
    * when the slice lacks the token) is quantized to 6 dp via the
    * tie-stable floor(x·1e6 + 0.5)/1e6 and summed as DECIMAL(18,6) —
    * exact, order-independent — the h7 pattern, so DuckDB replays the
    * float path bit-exactly. Rates are integer ppm (c·1e6 div n; the
    * 1e6 multiply bounds n at ~9·10¹² tokens per slice — fine for an
    * instrument run, noted here for honesty). Top drifted token =
    * row_number over (delta desc, token asc): total order, no ties.
    *
    * Scale: token facts shuffle at (slice, w) DISTINCT grain (K28's
    * argument); the JSD grid is |slices| × |vocab| — slice totals and
    * the corpus total broadcast; the only corpus-vocab-sized shuffle
    * is the left join putting slice counts onto the grid.
    */
  def tokenDriftReport(docs: DataFrame, sliceCol: String): DataFrame =
    driftReportFromCounts(
      docs.select(col(sliceCol), explode(tokens(col("text"))).as("w"))
        .groupBy(col(sliceCol), col("w")).agg(count(lit(1)).as("c_s")),
      sliceCol)

  /** The drift report over a PRE-AGGREGATED (slice, w, c_s) count
    * frame — the shared core of batch H22 and streaming J25 (whose
    * state log merges to exactly such a frame by counter addition,
    * making the streamed report bit-equal to the batch one under any
    * batch boundaries).
    */
  def driftReportFromCounts(counts: DataFrame, sliceCol: String): DataFrame = {
    // Quantization bound: each per-token contribution is rounded
    // half-up at 6 dp BEFORE the decimal sum (cross-engine
    // exactness), so jsd6 ≤ ln 2 + |corpus vocab|·5e-7 — the true
    // divergence is ≤ ln 2, but a large vocabulary with near-disjoint
    // slice distributions can push the quantized sum past it by the
    // accumulated half-ulps. Consumers asserting the ln 2 invariant
    // must allow that epsilon (StreamIndexCompactionSpec's J25 case does).
    // tie-stable 6-dp quantize — the same four IEEE ops in both
    // engines (multiply, add, floor, divide); see h7's rationale
    def q6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val cs = counts.select(col(sliceCol), col("w"),
      col("c_s").cast("long").as("c_s"))
    val cw = cs.groupBy(col("w")).agg(sum(col("c_s")).as("c"))
    val ns = cs.groupBy(col(sliceCol)).agg(
      sum(col("c_s")).as("n_s"), count(lit(1)).as("n_types"))
    val tot = cw.agg(sum(col("c")).as("n"))
    val grid = cw.crossJoin(broadcast(ns)).crossJoin(broadcast(tot))
      .join(cs, Seq(sliceCol, "w"), "left")
      .withColumn("c_s", coalesce(col("c_s"), lit(0L)))
    val p = col("c_s").cast("double") / col("n_s")
    val q = col("c").cast("double") / col("n")
    val m = (p + q) / lit(2.0)
    val contrib = grid
      .withColumn("j6", q6(
        when(col("c_s") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0))
          + lit(0.5) * q * log(q / m)))
      .withColumn("s_ppm", expr("c_s * 1000000L div n_s"))
      .withColumn("q_ppm", expr("c * 1000000L div n"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(sliceCol)
      .orderBy(abs(col("s_ppm") - col("q_ppm")).desc, col("w").asc)
    val top = contrib
      .withColumn("delta_ppm", abs(col("s_ppm") - col("q_ppm")))
      .withColumn("rk", row_number().over(wnd))
      .filter(col("rk") === 1)
      .select(col(sliceCol), col("w").as("top_w"),
        col("s_ppm").as("top_slice_ppm"), col("q_ppm").as("top_corpus_ppm"),
        col("delta_ppm").as("top_delta_ppm"))
    val js = contrib.groupBy(col(sliceCol), col("n_s"), col("n_types"))
      .agg(q6(sum(col("j6").cast("decimal(18,6)")).cast("double")).as("jsd6"))
    js.join(top, Seq(sliceCol))
      .select(col(sliceCol), col("n_s").as("n_tokens"), col("n_types"),
        col("jsd6"), col("top_w"), col("top_slice_ppm"),
        col("top_corpus_ppm"), col("top_delta_ppm"))
  }
}
