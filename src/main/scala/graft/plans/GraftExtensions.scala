package graft.plans

import graft.functions.{GramHashes64, GramRepStats64, KmvDistinct, Md5Prefix64, RollingGramHashes64, SimHash32, SimHash64, SlidingMinDistinct64, TokenShingleHashes64, TokenWindowHashes64}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SQL-surface registration of graft's native expressions, so SQL
  * users get them without touching the Scala API. A session built by
  * [[graft.GraftSession.local]] carries them:
  *
  *   spark.sql("SELECT md5prefix64(text) FROM docs")
  *
  * [[GraftFunctions.register]] does the same against an
  * already-running session (extensions only apply at build time).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(e.injectFunction)
}

object GraftFunctions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[Md5Prefix64].getName, null, name, usage, "")

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("md5prefix64"),
        info("md5prefix64",
          "md5prefix64(str) - 60-bit hash from the md5 prefix; equals conv(substring(md5(str),1,15),16,10)."),
        (args: Seq[Expression]) => Md5Prefix64(args.head)),
      (FunctionIdentifier("gramhashes64"),
        info("gramhashes64",
          "gramhashes64(str, k) - rolling k-gram md5prefix64 hashes mod 1e9+7 (winnowing step 1); k must be a literal."),
        (args: Seq[Expression]) => args(1) match {
          case Literal(k: Int, _) => GramHashes64(args.head, k)
          case other => throw new IllegalArgumentException(
            s"gramhashes64 k must be an integer literal, got $other")
        }),
      (FunctionIdentifier("simhash32"),
        info("simhash32",
          "simhash32(str) - 32-bit SimHash of the lowercased whitespace tokens (fused native kernel)."),
        (args: Seq[Expression]) => SimHash32(args.head)),
      (FunctionIdentifier("simhash64"),
        info("simhash64",
          "simhash64(str) - 64-bit SimHash of the lowercased whitespace tokens (fused native kernel; scale-safe fingerprint for banded Hamming LSH)."),
        (args: Seq[Expression]) => SimHash64(args.head)),
      (FunctionIdentifier("rollinggramhashes64"),
        info("rollinggramhashes64",
          "rollinggramhashes64(str, k) - O(n) Rabin-Karp rolling k-gram Horner hashes over code points, mod 1e9+7; k must be a literal."),
        (args: Seq[Expression]) => args(1) match {
          case Literal(k: Int, _) => RollingGramHashes64(args.head, k)
          case other => throw new IllegalArgumentException(
            s"rollinggramhashes64 k must be an integer literal, got $other")
        }),
      (FunctionIdentifier("tokenshinglehashes64"),
        info("tokenshinglehashes64",
          "tokenshinglehashes64(str, n) - distinct md5prefix64 hashes of the word n-gram shingles; n must be a literal."),
        (args: Seq[Expression]) => args(1) match {
          case Literal(n: Int, _) => TokenShingleHashes64(args.head, n)
          case other => throw new IllegalArgumentException(
            s"tokenshinglehashes64 n must be an integer literal, got $other")
        }),
      (FunctionIdentifier("tokenwindowhashes64"),
        info("tokenwindowhashes64",
          "tokenwindowhashes64(str, k) - positioned stride-1 k-token window hashes (double Rabin-Karp, ~60-bit keys) for exact-substring dedup; k must be a literal."),
        (args: Seq[Expression]) => args(1) match {
          case Literal(k: Int, _) => TokenWindowHashes64(args.head, k)
          case other => throw new IllegalArgumentException(
            s"tokenwindowhashes64 k must be an integer literal, got $other")
        }),
      (FunctionIdentifier("slidingmindistinct64"),
        info("slidingmindistinct64",
          "slidingmindistinct64(arr, w) - ordered-distinct sliding-window minima of a long array (winnowing step 2); w must be a literal."),
        (args: Seq[Expression]) => args(1) match {
          case Literal(w: Int, _) => SlidingMinDistinct64(args.head, w)
          case other => throw new IllegalArgumentException(
            s"slidingmindistinct64 w must be an integer literal, got $other")
        }),
      (FunctionIdentifier("kmvdistinct64"),
        info("kmvdistinct64",
          "kmvdistinct64(h, k) - AGGREGATE: KMV approximate-distinct estimate from the k smallest distinct 60-bit hashes; k must be a literal."),
        (args: Seq[Expression]) => args(1) match {
          case Literal(k: Int, _) => KmvDistinct(args.head, k)
          case other => throw new IllegalArgumentException(
            s"kmvdistinct64 k must be an integer literal, got $other")
        }),
      (FunctionIdentifier("gramrepstats64"),
        info("gramrepstats64",
          "gramrepstats64(str) - all nine Gopher-repetition n-gram statistics in one pass: long[9] = top-{2,3,4}-gram char mass, dup-{5..10}-gram char mass."),
        (args: Seq[Expression]) => GramRepStats64(args.head)),
      (FunctionIdentifier("countmin64"),
        info("countmin64",
          "countmin64(h, depth, width) - AGGREGATE: serialized Count-Min sketch over LONG keys (deterministic; estimate via graft.functions.CmsFunctions.cmsEstimate); depth/width must be literals, width a power of two."),
        (args: Seq[Expression]) => (args(1), args(2)) match {
          case (Literal(d: Int, _), Literal(w: Int, _)) =>
            graft.functions.CountMinAgg(args.head, d, w).toAggregateExpression()
          case other => throw new IllegalArgumentException(
            s"countmin64 depth/width must be integer literals, got $other")
        }))

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
