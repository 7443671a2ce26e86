package graft

import graft.functions.{CmsFunctions, CmsUtil, HashFunctions}
import org.apache.spark.sql.functions._

/** K25: Count-Min sketch. Pins the two properties the e25c
  * composition rides on — estimates NEVER undercount (under any
  * partitioning/merge order), and the sketch bytes are a
  * deterministic function of the key MULTISET (sums commute) — plus
  * the screen+verify ≡ exact equivalence and the codegen probe.
  */
class CmsSpec extends SparkSpecBase {
  import spark.implicits._

  private val depth = 4
  private val width = 256

  test("estimate >= true count for every key, under any partitioning") {
    val rnd = new scala.util.Random(3)
    // Zipf-ish multiset over 200 keys
    val keys = (1 to 4000).map(_ => (rnd.nextInt(200) + 1).toLong *
      (if (rnd.nextInt(4) == 0) 1L else rnd.nextInt(20) + 1L))
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (parts <- Seq(1, 7, 32)) {
      val bytes = keys.toDF("k").repartition(parts)
        .agg(CmsFunctions.cmsAgg(col("k"), depth, width))
        .head().getAs[Array[Byte]](0)
      val cms = CmsUtil.deserialize(bytes)
      truth.foreach { case (k, n) =>
        assert(cms.estimate(k) >= n, s"undercount at key $k, parts=$parts")
      }
    }
  }

  test("sketch bytes are partitioning-invariant (counter sums commute)") {
    val keys = (1L to 5000L).map(i => i % 97L)
    def build(parts: Int): Array[Byte] =
      keys.toDF("k").repartition(parts)
        .agg(CmsFunctions.cmsAgg(col("k"), depth, width))
        .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(build(1), build(13)),
      "same key multiset must yield byte-identical sketches")
  }

  test("codegen probe equals CmsUtil.estimate") {
    val keys = (1L to 2000L).map(i => i % 50L)
    val bytes = keys.toDF("k")
      .agg(CmsFunctions.cmsAgg(col("k"), depth, width))
      .head().getAs[Array[Byte]](0)
    val cms = CmsUtil.deserialize(bytes)
    val got = spark.range(0, 60)
      .select(col("id"), CmsFunctions.cmsEstimate(bytes, col("id")).as("est"))
      .as[(Long, Long)].collect().toMap
    (0L until 60L).foreach(k => assert(got(k) == cms.estimate(k)))
  }

  test("screen + exact verify equals the exact heavy-hitter query at every partitioning") {
    val rnd = new scala.util.Random(9)
    // 3 heavy keys + a long tail
    val rows = Seq.fill(3000)(rnd.nextInt(500).toLong + 100L) ++
      Seq.fill(900)(1L) ++ Seq.fill(700)(2L) ++ Seq.fill(500)(3L)
    val n = rows.size.toLong
    val exact = rows.groupBy(identity).collect {
      case (k, v) if v.size.toLong * 8 > n => k -> v.size.toLong
    }.toMap
    for (parts <- Seq(1, 11)) {
      val df = rnd.shuffle(rows).toDF("k").repartition(parts)
      val bytes = df.agg(CmsFunctions.cmsAgg(col("k"), depth, width))
        .head().getAs[Array[Byte]](0)
      val got = df
        .filter(CmsFunctions.cmsEstimate(bytes, col("k")) * 8 > n)
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 8 > n)
        .as[(Long, Long)].collect().toMap
      assert(got == exact, s"parts=$parts")
    }
  }

  test("SQL surface: countmin64 registered, sketch equals the Column API build") {
    spark.range(0, 1000).createOrReplaceTempView("cms_t")
    val viaSql = spark.sql("SELECT countmin64(id % 50, 4, 256) FROM cms_t")
      .head().getAs[Array[Byte]](0)
    val viaApi = spark.range(0, 1000)
      .agg(CmsFunctions.cmsAgg(col("id") % 50, 4, 256))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, viaApi))
    assert(CmsUtil.deserialize(viaSql).estimate(7L) == 20L) // exact at this density
  }

  test("width fold: folding the finest sketch down is BYTE-IDENTICAL to aggregating at each width directly") {
    // the e25d one-scan contract: power-of-two cell masks nest, so
    // counter groups congruent mod the narrower width sum to the
    // direct sketch exactly — per width AND per depth row
    val keys = spark.range(0, 5000).select((col("id") * col("id") % 733).as("k"))
    val finest = keys.agg(CmsFunctions.cmsAgg(col("k"), 4, 4096))
      .head().getAs[Array[Byte]](0)
    for (w <- Seq(1024, 256, 64)) {
      val direct = keys.agg(CmsFunctions.cmsAgg(col("k"), 4, w))
        .head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(CmsUtil.foldWidth(finest, w), direct),
        s"fold to width $w diverged from the direct sketch")
    }
    // non-dividing or non-power-of-two targets are refused loudly
    intercept[IllegalArgumentException](CmsUtil.foldWidth(finest, 768))
  }

  test("error bound: estimates stay within the e*n/width envelope on the corpus") {
    // classic CMS bound: overcount <= e*n/width with prob 1-e^-depth
    // per key; assert the MAX overcount over all keys stays inside
    // 2*e*n/width on a real token stream (deterministic corpus).
    val tok = sources.Tables.documents(spark, sf)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .select(HashFunctions.md5prefix64(col("w")).as("h"))
    val n = tok.count()
    val bytes = tok.agg(CmsFunctions.cmsAgg(col("h"), depth, 2048))
      .head().getAs[Array[Byte]](0)
    val worst = tok.groupBy("h").agg(count(lit(1)).as("cnt"))
      .select(max(CmsFunctions.cmsEstimate(bytes, col("h")) - col("cnt")))
      .head().getLong(0)
    val bound = (2.0 * math.E * n / 2048).toLong + 1
    assert(worst >= 0 && worst <= bound,
      s"max overcount $worst outside [0, $bound] (n=$n)")
  }
}
