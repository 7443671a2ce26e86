package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Specs for the time-series additions (ASOF join, extensions). */
class TimeSeriesSpec extends SparkSpecBase {
  import spark.implicits._

  private def t(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("d12b grid rollup: every parent cell ≡ Σ of its 4 children; one FileScan serves all levels") {
    val df = queries.AdsbQueries.defs.find(_.name == "d12b_grid_rollup").get
      .run(spark, sf)
    val rows = df.collect().map(r =>
      (r.getAs[Number]("level").intValue(), r.getAs[Long]("cell"),
        r.getAs[Long]("n_positions"))).toSeq
    val byLevel = rows.groupBy(_._1)
    assert(byLevel.keySet == (0 to 4).toSet)
    (0 to 3).foreach { l =>
      val parents = byLevel(l).map(t => t._2 -> t._3).toMap
      val kids = byLevel(l + 1).groupBy(_._2 / 4)
        .map { case (p, ks) => p -> ks.map(_._3).sum }
      assert(parents == kids,
        s"level $l cells != sums of their level-${l + 1} children")
    }
    // every level carries the same total (nothing dropped in the fold)
    assert(byLevel.values.map(_.map(_._3).sum).toSet.size == 1)
    // the one-scan pin: all five zoom levels come from a single
    // FileScan + finest agg; the per-level fold is metadata-sized
    // AQE's toString prints BOTH the final and the initial plan —
    // count scans in the final section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "FileScan|BatchScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 file scan, plan had $scans:\n$plan")
  }

  test("joinAsOf picks the latest right row at or before each left row") {
    val left = Seq((1L, "u1", t(10)), (2L, "u1", t(25)), (3L, "u2", t(10)))
      .toDF("event_id", "k", "ts")
    val right = Seq(("u1", t(5), 50.0, 100L), ("u1", t(25), 60.0, 101L),
      ("u3", t(1), 99.0, 102L)).toDF("k", "ts", "price", "rid")
    val got = AsOfJoin.joinAsOf(left, right, "k", "ts", "ts", Seq("ts", "price"), "rid")
      .select(col("event_id"), col("asof_price")).as[(Long, Option[Double])]
      .collect().toMap
    assert(got(1L).contains(50.0))   // t5 < t10
    assert(got(2L).contains(60.0))   // equal timestamp matches (<=)
    assert(got(3L).isEmpty)          // u2 has no right rows → null
  }

  test("joinAsOf equal right timestamps: latest by tie-break wins") {
    val left = Seq((1L, "u1", t(10))).toDF("event_id", "k", "ts")
    val right = Seq(("u1", t(10), 1.0, 7L), ("u1", t(10), 2.0, 9L))
      .toDF("k", "ts", "price", "rid")
    val got = AsOfJoin.joinAsOf(left, right, "k", "ts", "ts", Seq("price"), "rid")
      .select("asof_price").as[Double].collect()
    assert(got.toSeq == Seq(2.0))
  }

  test("joinAsOf plans a single key shuffle (no range join)") {
    val left = Seq((1L, "u1", t(10))).toDF("event_id", "k", "ts")
    val right = Seq(("u1", t(5), 1.0, 7L)).toDF("k", "ts", "price", "rid")
    val plan = AsOfJoin.joinAsOf(left, right, "k", "ts", "ts", Seq("price"), "rid")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("md5prefix64 is callable from SQL after registration (K-group)") {
    val r = spark.sql(
      "SELECT md5prefix64('abc') = cast(conv(substring(md5('abc'), 1, 15), 16, 10) as bigint) AS ok")
      .as[Boolean].collect()
    assert(r.toSeq == Seq(true))
  }
}
