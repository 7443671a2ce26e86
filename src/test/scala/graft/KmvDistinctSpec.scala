package graft

import graft.functions.{HashFunctions, KmvDistinct}
import org.apache.spark.sql.functions._

/** The native KMV TypedImperativeAggregate (K11 / e13e): estimator
  * identity with the composed e13c pipeline, exactness below k,
  * partition-invariance (exercises serialize + merge across the
  * shuffle), and the SQL surface.
  */
class KmvDistinctSpec extends SparkSpecBase {

  test("e13e native aggregate ≡ e13c composed pipeline, bit for bit") {
    val a = SparkEntry.queries("e13c_kmv_distinct")(spark, sf).collect()
    val b = SparkEntry.queries("e13e_kmv_aggregate")(spark, sf).collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getString(0) == y.getString(0))
      // exact double equality: same IEEE expression on both paths
      assert(java.lang.Double.doubleToLongBits(x.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(y.getDouble(1)), s"$x vs $y")
    }
  }

  test("exact below k: fewer than k distinct hashes -> estimate is the exact count") {
    import spark.implicits._
    val df = (1 to 200).map(i => ("g", s"key${i % 37}")).toDF("g", "s")
    val got = df.select(col("g"), HashFunctions.md5prefix64(col("s")).as("h"))
      .groupBy("g").agg(KmvDistinct.kmvDistinct64(col("h"), 64).as("est"))
      .head().getDouble(1)
    assert(got == 37.0)
  }

  test("partition-invariant: 1, 3 and 16 input partitions give identical sketches") {
    import spark.implicits._
    val rows = (1 to 5000).map(i => (s"t${i % 3}", s"user${i % 997}"))
    def run(parts: Int): Array[(String, Double)] =
      rows.toDF("g", "s").repartition(parts)
        .select(col("g"), HashFunctions.md5prefix64(col("s")).as("h"))
        .groupBy("g").agg(KmvDistinct.kmvDistinct64(col("h"), 64).as("est"))
        .orderBy("g")
        .as[(String, Double)].collect()
    val one = run(1)
    assert(one.sameElements(run(3)))
    assert(one.sameElements(run(16)))
    // 3 ⊥ 997, so over 5000 rows every group sees ALL 997 users (CRT):
    // the true per-group distinct count is 997, not 5000/3. A k=64 KMV
    // sketch has rel. std ≈ 1/sqrt(k-2) ≈ 12.7%; assert a ±3σ band.
    val truth = 997.0
    val sigma = truth / math.sqrt(64 - 2)
    one.foreach { case (_, est) =>
      assert(math.abs(est - truth) < 3 * sigma, s"est=$est truth=$truth")
    }
  }

  test("SQL surface: kmvdistinct64 aggregates from spark.sql") {
    import spark.implicits._
    (1 to 100).map(i => s"u${i % 9}").toDF("s")
      .select(HashFunctions.md5prefix64(col("s")).as("h"))
      .createOrReplaceTempView("kmv_sql_in")
    val got = spark.sql("SELECT kmvdistinct64(h, 64) AS est FROM kmv_sql_in")
      .head().getDouble(0)
    assert(got == 9.0)
  }

  test("e13e plan: one ObjectHashAggregate pass, no sort aggregation, no window") {
    val df = SparkEntry.queries("e13e_kmv_aggregate")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString.replace("\n", " ")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(400)) // partial + final
    assert("SortAggregate".r.findAllIn(p).isEmpty, p.take(400))
    assert(" Window ".r.findAllIn(p).isEmpty, p.take(400))
  }
}
