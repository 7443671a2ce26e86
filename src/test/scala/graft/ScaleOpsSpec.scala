package graft

import graft.operators.ScaleOps
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Scale-pattern specs: salting equivalence, bucketed co-located joins. */
class ScaleOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("spread parallelizes an under-split scan and is the identity otherwise") {
    // one-file scan: fewer planned partitions than defaultParallelism
    // -> one round-robin exchange up to the default parallelism
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val target = spark.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) {
      val s = ScaleOps.spread(docs)
      assert(s.rdd.getNumPartitions == target)
      // rows are preserved exactly (same multiset)
      assert(s.groupBy("doc_id").count().filter(col("count") =!= 1).isEmpty)
      assert(s.count() == docs.count())
    }
    // already-parallel input: identity — no exchange added (the
    // production / 100 TB shape, where scans split naturally)
    val wide = docs.repartition(target + 4)
    val s2 = ScaleOps.spread(wide)
    assert(s2 eq wide)
  }

  test("salted aggregation returns exactly the plain aggregation") {
    val e = Tables.events(spark, sf)
    val plain = e.groupBy("event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val salted = ScaleOps.saltedCount(e, "event_type", 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)

    val plainSum = e.groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .as[(String, Double)].collect().toMap
    val saltedSum = ScaleOps.saltedSum(e, "event_type", "value", 8)
      .as[(String, Double)].collect().toMap
    assert(saltedSum == plainSum) // decimal partials merge exactly
  }

  test("salted join returns exactly the plain join") {
    val o = Tables.orders(spark, sf).select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, sf).select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val plain = o.join(c, "custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .as[(String, Long, Double)].collect().toSet
    val salted = ScaleOps.saltedJoin(o, c, "custkey", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .as[(String, Long, Double)].collect().toSet
    assert(salted == plain)
  }

  test("salted aggregation and join equal the plain ones when one key holds half the rows") {
    // the hot-aircraft shape: key 0 carries every even row, the rest
    // spread over ~1000 keys
    val facts = spark.range(20000).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(hash(col("id")), lit(1000)).cast("long")).as("k"),
      (col("id") % 1000).cast("double").as("v"))
    val plain = facts.groupBy("k")
      .agg(sum(col("v").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .as[(Long, Double)].collect().toMap
    val salted = ScaleOps.saltedSum(facts, "k", "v", 32)
      .as[(Long, Double)].collect().toMap
    assert(salted == plain)

    val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("dim"))
    def perKey(joined: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      joined.groupBy("k").agg(count(lit(1)).as("n"), sum(col("v") + col("dim")).as("s"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val plainJoin = perKey(facts.join(dim, "k"))
    assert(plainJoin(0L)._1 >= 10000L) // every even row, plus odd rows hashing to 0
    assert(perKey(ScaleOps.saltedJoin(facts, dim, "k", 32)) == plainJoin)
  }

  test("two-level prefix sum equals the global-window cumulative sum") {
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("value").cast("decimal(18,2)").as("v"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val global = e.withColumn("cum", sum(col("v")).over(w))
      .select(col("event_id"), col("cum").cast("double"))
      .as[(Long, Double)].collect().toMap
    val scanned = ScaleOps.prefixSum(e, "event_id", "v", 97L)
      .select(col("event_id"), col("cum").cast("double"))
      .as[(Long, Double)].collect().toMap
    assert(scanned == global)
  }

  test("identically bucketed tables join without an exchange") {
    ScaleOps.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 4)
    ScaleOps.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)
    val joined = ScaleOps.bucketedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }
}
