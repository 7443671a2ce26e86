package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** F4b: banded Hamming LSH over SimHash. The load-bearing claim is
  * LOSSLESSNESS: with 4 16-bit bands over the 64-bit fingerprint,
  * any pair within Hamming distance 3 flips bits in at most 3 bands,
  * so it must agree exactly on at least one band (pigeonhole) — the
  * banded candidate join therefore finds EVERY true pair, and the
  * bit_count(xor) verify keeps exactly those. Checked against the
  * brute-force all-pairs answer on a corpus constructed to contain
  * genuine near-duplicates.
  */
class SimhashPairsSpec extends SparkSpecBase {

  test("banded simhash pairs equal brute-force Hamming<=3 pairs (F4b lossless)") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    // 4 docs per base text, each with one mutated token — clusters of
    // near-identical docs whose simhashes sit a few bits apart.
    val docs = (0 until 120).map { i =>
      val base = {
        val r = new scala.util.Random(i / 4)
        Vector.fill(40)(vocab(r.nextInt(vocab.size)))
      }
      val r = new scala.util.Random(1000 + i)
      val mut = base.updated(r.nextInt(base.size), vocab(r.nextInt(vocab.size)))
      (i.toLong, mut.mkString(" "))
    }.toDF("doc_id", "text")

    val got = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet

    val sim = Dedup.simhash64(docs, "doc_id", "text")
    val l = sim.select(col("doc_id").as("a"), col("simhash").as("sa"))
    val r = sim.select(col("doc_id").as("b"), col("simhash").as("sb"))
    val brute = l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet

    assert(brute.nonEmpty, "test corpus must contain true near-dup pairs")
    assert(got == brute)
    Dedup.releaseCaches(spark)
  }

  test("radius-7 and radius-3 banded Hamming joins both find every planted 2-bit copy") {
    import spark.implicits._
    // n random 64-bit prints plus n/20 copies of print (i·17) mod n
    // with bits (i mod 60) and (i mod 60) + 2 flipped: within both
    // radii, so the 8×8-bit (lossless to 7) and the 4×16-bit
    // (lossless to 3) band families must each recover all of them
    val n = 2000L
    val base = spark.range(n).select(col("id"), expr("xxhash64(id)").as("phash"))
    val planted = spark.range(n / 20).select((col("id") + n).as("id"),
      expr(s"xxhash64((id * 17) % $n) ^ shiftleft(5L, CAST(id % 60 AS INT))").as("phash"))
    val prints = base.unionByName(planted)
    val want = (0L until n / 20).map(i => ((i * 17) % n, i + n)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a", "b").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val r7 = pairs(Dedup.hammingBandPairsWide(prints, "id", "phash", maxHamming = 7))
    val r3 = pairs(Dedup.hammingBandPairs(prints, "id", "phash", maxHamming = 3))
    assert(want.subsetOf(r7), s"radius 7 missed ${want -- r7}")
    assert(want.subsetOf(r3), s"radius 3 missed ${want -- r3}")
    assert(r3.subsetOf(r7), "every radius-3 pair is within radius 7")
  }

  test("simhashPairs rejects a radius the band count cannot cover") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", "text", 4)
    }
  }
}
