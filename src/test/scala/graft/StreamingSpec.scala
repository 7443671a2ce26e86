package graft

import graft.streaming.AdsbStream
import graft.streaming.AdsbStream.{CurrentPosition, RawReport}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** J-group specs: the Kafka→MV→Replacing flow driven synchronously
  * from MemoryStream (the source is orthogonal to the transforms).
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private val batch1 = Seq(
    RawReport(Some("ABC123"), Some(" BAW12 "), Some(51.0), Some(-0.1), Some("37000"), Some(450.0), "local", ts(0)),
    RawReport(Some("abc123"), Some(" BAW12 "), Some(51.1), Some(-0.2), Some("38000"), Some(455.0), "local", ts(10)),
    RawReport(None, Some("ghost"), Some(10.0), Some(10.0), Some("100"), Some(1.0), "local", ts(5)),
    RawReport(Some("DEF456"), None, Some(95.0), Some(0.0), Some("100"), Some(1.0), "local", ts(5)),
    RawReport(Some("GRND99"), Some("gnd"), Some(40.0), Some(4.0), Some("ground"), None, "local", ts(7)))

  test("streaming ingest normalizes and filters like the reference MV (J1)") {
    val input = MemoryStream[RawReport](spark)
    input.addData(batch1)
    val q = AdsbStream.normalize(input.toDF())
      .writeStream.format("memory").queryName("j1_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("j1_out").collect()
    // null hex and out-of-range lat dropped
    assert(out.length == 3)
    val byKey = out.map(r => r.getAs[String]("icao24") -> r).toMap
    assert(byKey.keySet == Set("abc123", "grnd99"))
    assert(byKey("grnd99").getAs[Int]("alt_baro") == 0)            // 'ground' → 0
    assert(byKey("grnd99").getAs[Double]("ground_speed") == -9999.0) // null → sentinel
    assert(out.forall(_.getAs[String]("callsign") == out.head.getAs[String]("callsign")) ||
      byKey("abc123").getAs[String]("callsign") == "baw12")        // trim+lower
  }

  test("windowed rates aggregate per source with watermark (J2)") {
    val input = MemoryStream[RawReport](spark)
    input.addData(batch1)
    val q = AdsbStream.windowedRates(AdsbStream.normalize(input.toDF()), "1 minute", "1 minute")
      .writeStream.format("memory").queryName("j2_out").outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("j2_out")
    assert(out.agg(sum("n_reports")).as[Long].collect().head == 3)
  }

  test("latest-state TTL drops idle keys once the watermark passes expiry (J3b)") {
    val input = MemoryStream[CurrentPosition](spark)
    val q = AdsbStream.latestStateWithTtl(spark, input.toDF(),
        ttlMs = 3600000L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("j3b_out").outputMode("update").start()
    try {
      def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
      // A's state lives at t0
      input.addData(CurrentPosition("aaa111", "x", 51.0, -0.1, 37000, 450.0, "local", ts(0)))
      q.processAllAvailable()
      // B three hours later pushes the watermark far past A's expiry;
      // the timeout fires on the batch after the watermark advances
      input.addData(CurrentPosition("bbb222", "y", 52.0, -0.2, 36000, 440.0, "local", ts(3 * 3600)))
      q.processAllAvailable()
      input.addData(CurrentPosition("bbb222", "y", 52.1, -0.2, 36000, 440.0, "local", ts(3 * 3600 + 60)))
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"idle key should be dropped from the state store; still $stateRows rows")
      // the active key keeps emitting normally
      assert(spark.table("j3b_out").filter(col("icao24") === "bbb222").count() == 2)
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap and timeout (J8)") {
    import graft.streaming.AdsbStream.{ClosedSession, SessionEvent}
    val input = MemoryStream[SessionEvent](spark)
    val q = AdsbStream.sessionize(input.toDS(), gapMinutes = 30, watermark = "10 seconds")
      .writeStream.format("memory").queryName("j8_out").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      // one user: two events 1 min apart, then a 2 h jump — the jump
      // closes session 1 within the batch
      input.addData(
        SessionEvent(1L, new Timestamp(t0)),
        SessionEvent(1L, new Timestamp(t0 + 60000L)),
        SessionEvent(1L, new Timestamp(t0 + 2L * 3600000L)))
      q.processAllAvailable()
      val first = spark.table("j8_out").as[ClosedSession].collect()
      assert(first.toSeq == Seq(ClosedSession(1L, t0 * 1000, (t0 + 60000L) * 1000, 2)))

      // advance the watermark far past session 2's end + gap via
      // another key → the open session times out and emits
      input.addData(SessionEvent(2L, new Timestamp(t0 + 6L * 3600000L)))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, new Timestamp(t0 + 7L * 3600000L)))
      q.processAllAvailable()
      val all = spark.table("j8_out").as[ClosedSession].collect()
      assert(all.exists(s => s.user_id == 1L && s.n_events == 1 &&
        s.start_us == (t0 + 2L * 3600000L) * 1000))
    } finally q.stop()
  }

  test("sessionization survives a late redelivered event below the watermark (J8)") {
    import graft.streaming.AdsbStream.{ClosedSession, SessionEvent}
    val input = MemoryStream[SessionEvent](spark)
    val q = AdsbStream.sessionize(input.toDS(), gapMinutes = 30, watermark = "10 seconds")
      .writeStream.format("memory").queryName("j8_late_out").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      // push the watermark hours ahead via another key
      input.addData(SessionEvent(2L, new Timestamp(t0 + 6L * 3600000L)))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, new Timestamp(t0 + 7L * 3600000L)))
      q.processAllAvailable()
      // a redelivered event hours below the watermark must not kill
      // the query. Spark 4's FlatMapGroupsWithStateExec filters rows
      // below the watermark before the state function (verified: no
      // state row appears for the late key), and the timeout clamp in
      // sessionize guards the residual path where a row passes the
      // late filter but its session end + gap sits at/below the
      // eviction watermark.
      input.addData(SessionEvent(1L, new Timestamp(t0)))
      q.processAllAvailable()
      assert(q.isActive, "query must survive the late event")
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L,
        "late row is dropped by the watermark, creating no state")
      // the live key keeps sessionizing normally afterwards
      input.addData(SessionEvent(2L, new Timestamp(t0 + 8L * 3600000L)))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, new Timestamp(t0 + 9L * 3600000L)))
      q.processAllAvailable()
      val closed = spark.table("j8_late_out").as[ClosedSession].collect()
      assert(closed.forall(_.user_id == 2L) && closed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join correlates feeds and expires buffered state (J9)") {
    val local = MemoryStream[(String, Timestamp, Double)](spark)
    val open = MemoryStream[(String, Timestamp, Double)](spark)
    val joined = AdsbStream.intervalJoin(
      local.toDF().toDF("icao24", "l_ts", "l_alt"),
      open.toDF().toDF("o_icao24", "o_ts", "o_alt"),
      "icao24", "o_icao24", "l_ts", "o_ts",
      watermark = "10 seconds", tolerance = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("j9_out")
      .outputMode("append").start()
    try {
      // A matches within ±5 min; B's candidate is 10 min away → no match
      local.addData(("aaa111", ts(0), 37000.0), ("bbb222", ts(0), 20000.0))
      open.addData(("aaa111", ts(120), 37010.0), ("bbb222", ts(600), 20010.0))
      q.processAllAvailable()
      val out = spark.table("j9_out")
        .select("icao24", "l_alt", "o_alt").as[(String, Double, Double)].collect()
      assert(out.toSet == Set(("aaa111", 37000.0, 37010.0)))

      // advance both watermarks far past the tolerance window: the
      // buffered batch-1 rows are expired from the join state
      local.addData(("ccc333", ts(7200), 1.0))
      open.addData(("ccc333", ts(7200), 2.0))
      q.processAllAvailable()
      local.addData(("ddd444", ts(7300), 1.0))
      open.addData(("ddd444", ts(7300), 2.0))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= 4,
        s"join state must be bounded by the live window, got $stateRows rows")
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched rows after watermark expiry (J9b)") {
    val local = MemoryStream[(String, Timestamp, Double)](spark)
    val open = MemoryStream[(String, Timestamp, Double)](spark)
    val joined = AdsbStream.intervalJoin(
      local.toDF().toDF("icao24", "l_ts", "l_alt"),
      open.toDF().toDF("o_icao24", "o_ts", "o_alt"),
      "icao24", "o_icao24", "l_ts", "o_ts",
      watermark = "10 seconds", tolerance = "5 minutes", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("j9b_out")
      .outputMode("append").start()
    try {
      // A is seen by both feeds; B only by the local one
      local.addData(("aaa111", ts(0), 37000.0), ("bbb222", ts(0), 20000.0))
      open.addData(("aaa111", ts(60), 37010.0))
      q.processAllAvailable()
      // push both watermarks past B's match window → B emits null-padded
      local.addData(("ccc333", ts(7200), 1.0))
      open.addData(("ccc333", ts(7200), 2.0))
      q.processAllAvailable()
      local.addData(("ddd444", ts(7300), 1.0))
      open.addData(("ddd444", ts(7300), 2.0))
      q.processAllAvailable()
      val rows = spark.table("j9b_out")
        .select("icao24", "o_icao24").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rows.contains(("aaa111", Some("aaa111"))))
      assert(rows.contains(("bbb222", None)),
        s"feed-gap row must emit null-padded once expired; got $rows")
    } finally q.stop()
  }

  test("stateful latest-state emits only when a key advances (J3)") {
    val input = MemoryStream[CurrentPosition](spark)
    val q = AdsbStream.latestState(spark, input.toDF())
      .writeStream.format("memory").queryName("j3_out").outputMode("update").start()

    input.addData(CurrentPosition("abc123", "baw12", 51.0, -0.1, 37000, 450.0, "local", ts(0)))
    q.processAllAvailable()
    // stale report (older ts) must NOT emit; newer must
    input.addData(
      CurrentPosition("abc123", "baw12", 50.9, -0.05, 36900, 449.0, "local", ts(-10)),
      CurrentPosition("abc123", "baw12", 51.2, -0.3, 39000, 460.0, "local", ts(20)))
    q.processAllAvailable(); q.stop()

    val out = spark.table("j3_out").collect()
    assert(out.length == 2)
    val last = out.maxBy(_.getAs[Timestamp]("scrape_time").getTime)
    assert(last.getAs[Int]("alt_baro") == 39000)
  }

  test("streaming dedup drops duplicate deliveries within the watermark (J5)") {
    val input = MemoryStream[RawReport](spark)
    val dup = batch1.head
    input.addData(Seq(dup, dup, dup, batch1(1)))
    val q = AdsbStream.dedupStream(AdsbStream.normalize(input.toDF()), "10 minutes", Seq("icao24"))
      .writeStream.format("memory").queryName("j5_out").outputMode("append").start()
    q.processAllAvailable()
    // a redelivery in a later microbatch is also dropped
    input.addData(dup)
    q.processAllAvailable(); q.stop()
    val out = spark.table("j5_out").collect()
    assert(out.length == 2) // three+1 copies of dup → 1; batch1(1) → 1
  }

  /** One microbatch of a `fleet`-aircraft feed: every batch touches
    * every key, and event time advances `stepS` seconds per batch.
    */
  private def fleetBatch(b: Int, rows: Int, fleet: Int, stepS: Long): Seq[CurrentPosition] =
    (0 until rows).map { i =>
      val key = i % fleet
      CurrentPosition(f"icao$key%06x", s"cs$key", (key % 180) - 90.0,
        (key % 360) - 180.0, key % 40000, (i % 600).toDouble, "local",
        ts(b * stepS + i / fleet))
    }

  test("streaming state stays bounded: J3 holds the fleet, J5 holds the watermark window") {
    val fleet = 50
    // J3: latest state per aircraft plateaus at the fleet size from
    // the first batch on, whatever the feed volume
    val in3 = MemoryStream[CurrentPosition](spark)
    val q3 = AdsbStream.latestStateWithTtl(spark, in3.toDF(),
        ttlMs = 3600000L, watermark = "10 seconds")
      .writeStream.format("noop").outputMode("update").start()
    val j3 = try (0 until 4).map { b =>
      in3.addData(fleetBatch(b, 4 * fleet, fleet, stepS = 1))
      q3.processAllAvailable()
      q3.lastProgress.stateOperators.head.numRowsTotal
    } finally q3.stop()
    assert(j3 == Seq.fill(4)(fleet.toLong), j3)
    // J5: every row arrives twice; event time moves 5 s per batch
    // against a 10 s watermark, so dedup state rises while the window
    // fills and then holds the unique rows inside it
    val in5 = MemoryStream[CurrentPosition](spark)
    val q5 = AdsbStream.dedupStream(in5.toDF(), "10 seconds", Seq("icao24"))
      .writeStream.format("noop").outputMode("append").start()
    val j5 = try (0 until 6).map { b =>
      val rows = fleetBatch(b, 2 * fleet, fleet, stepS = 5)
      in5.addData(rows ++ rows)
      q5.processAllAvailable()
      q5.lastProgress.stateOperators.head.numRowsTotal
    } finally q5.stop()
    assert(j5 == Seq(100L, 200L, 300L, 400L, 400L, 400L), j5)
  }

  test("the bloom screen and the quality gate keep no streaming state (J12, J13)") {
    import graft.streaming.AdsbStream.StreamDoc
    val blacklist = spark.range(0, 1000).filter(col("id") % 7 === 0)
      .select(col("id").as("banned"))
    val docs = (0L until 300L).map(i =>
      StreamDoc(i, (0 until 12).map(j => s"w${(i * 7 + j) % 512}").mkString(" ")))
    def stateRows(gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[Long] = {
      val input = MemoryStream[StreamDoc](spark)
      val q = gate(input.toDF()).writeStream.format("noop").outputMode("append").start()
      try docs.grouped(100).toSeq.map { batch =>
        input.addData(batch)
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()
    }
    assert(stateRows(AdsbStream.bloomScreenStream(_, "doc_id", blacklist, "banned", 1 << 14, 5))
      == Seq(0L, 0L, 0L))
    assert(stateRows(AdsbStream.qualityGateStream(_, "doc_id", "text",
      graft.queries.PipelineQueries.classifierWeights)) == Seq(0L, 0L, 0L))
  }

  test("stream-static enrichment broadcasts the dimension (J6)") {
    val input = MemoryStream[RawReport](spark)
    input.addData(batch1.take(2))
    val registry = Seq(("abc123", "Airbus A320", "BA")).toDF("icao24", "model", "operator")
    val q = AdsbStream.enrich(AdsbStream.normalize(input.toDF()), registry, "icao24")
      .writeStream.format("memory").queryName("j6_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("j6_out").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("model") == "Airbus A320"))
  }

  test("streaming sink lands day-partitioned key-clustered parquet (J7)") {
    val input = MemoryStream[RawReport](spark)
    input.addData(batch1)
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val q = AdsbStream.startPartitionedSink(
      AdsbStream.normalize(input.toDF()), "scrape_time", "icao24", out, ckpt)
    q.processAllAvailable(); q.stop()
    val days = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(days.nonEmpty && days.forall(_.startsWith("day=")))
    assert(spark.read.parquet(out).count() == 3)
  }

  test("streaming agg-state sink: merged states equal one-shot aggregation, replay is idempotent (J10)") {
    val input = MemoryStream[RawReport](spark)
    val out = java.nio.file.Files.createTempDirectory("graft_aggstate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_aggckpt").toString
    input.addData(batch1)
    val q = AdsbStream.startAggStateSink(
      AdsbStream.normalize(input.toDF()), "scrape_time", "icao24",
      "ground_speed", out, ckpt)
    q.processAllAvailable()
    input.addData(batch1.take(2).map(_.copy(hex = Some("XYZ789"))))
    q.processAllAvailable(); q.stop()

    val merged = AdsbStream.readAggState(spark, out, "icao24")
    val direct = {
      val all = AdsbStream.normalize(
        (batch1 ++ batch1.take(2).map(_.copy(hex = Some("XYZ789")))).toDF())
      all.withColumn("day", date_format(col("scrape_time"), "yyyyMMdd"))
        .groupBy("day", "icao24")
        .agg(count(lit(1)).as("n"),
          sum(col("ground_speed").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"),
          min(col("scrape_time")).as("first_ts"),
          max(col("ground_speed")).as("max_value"))
    }
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)

    // Failure replay: re-merging the same batchId must REPLACE that
    // batch's states, not double-count them.
    val replay = AdsbStream.normalize(batch1.toDF())
    AdsbStream.mergeBatchIntoAggState(replay, 0L, "scrape_time", "icao24",
      "ground_speed", out)
    val after = AdsbStream.readAggState(spark, out, "icao24")
    assert(after.exceptAll(direct).isEmpty && direct.exceptAll(after).isEmpty)
  }

  test("streaming quantile-sketch state: merge-on-read quantiles equal one-shot e14e, replay is idempotent (J20)") {
    import graft.operators.ScaleOps
    // two groups, deterministic skewed values (quadratic spread so
    // p50/p95 land in different cells), delivered across TWO batches
    // with different group mixes — batch boundaries must not matter
    def rows(lo: Int, hi: Int): Seq[(String, Double)] =
      (lo until hi).map(i => (if (i % 3 == 0) "a" else "b", (i * i % 997) / 10.0))
    val input = MemoryStream[(String, Double)](spark)
    val out = java.nio.file.Files.createTempDirectory("graft_qstate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qckpt").toString
    val named = input.toDF().toDF("g", "v")
    val q = AdsbStream.startQuantileStateSink(named, "g", "v",
      gridPerUnit = 1, out, ckpt)
    input.addData(rows(0, 400))
    q.processAllAvailable()
    input.addData(rows(400, 1000))
    q.processAllAvailable(); q.stop()

    val merged = AdsbStream.readQuantileState(spark, out, "g", Seq(50, 95))
    val direct = ScaleOps.gridQuantiles(
      ScaleOps.gridQuantileSketch(rows(0, 1000).toDF("g", "v"), "g", "v"),
      "g", Seq(50, 95))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)

    // failure replay: re-merging batch 0 must REPLACE its partials
    AdsbStream.mergeBatchIntoQuantileState(rows(0, 400).toDF("g", "v"), 0L,
      "g", "v", gridPerUnit = 1, out)
    val after = AdsbStream.readQuantileState(spark, out, "g", Seq(50, 95))
    assert(after.exceptAll(direct).isEmpty && direct.exceptAll(after).isEmpty)
  }

  test("streaming heavy-hitter state: read-out equals exact batch heavy hitters under any batch boundaries, replay idempotent, compaction invisible (J22)") {
    // skewed key stream: hot0 ~1/3, hot1 ~2/21, ~500 cold keys in the
    // tail — at thresholdDen=50 (freq > 2%) exactly the two hot keys
    // are heavy
    def toks(lo: Int, hi: Int): Seq[(Long, String)] = (lo until hi).map { i =>
      val w = if (i % 3 == 0) "hot0"
              else if (i % 7 == 0) "hot1"
              else s"cold_${i % 509}"
      (i.toLong, w)
    }
    val path = java.nio.file.Files.createTempDirectory("graft_j22").toString
    // three batches with different sizes — boundaries must not matter
    val cuts = Seq((0, 900), (900, 1500), (1500, 3000))
    cuts.zipWithIndex.foreach { case ((lo, hi), b) =>
      AdsbStream.mergeBatchIntoHeavyHitterState(
        toks(lo, hi).toDF("id", "w"), b.toLong, "w", path, width = 256)
    }
    val direct = {
      val all = toks(0, 3000).toDF("id", "w")
      val n = all.count()
      all.groupBy("w").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 50 > n).select("w", "cnt")
    }
    val merged = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    assert(merged.select("w").as[String].collect().toSet == Set("hot0", "hot1"))
    // the sketch side is ONE matrix row per batch, rate-independent
    assert(spark.read.parquet(s"$path/sketch").count() == cuts.length)

    // failure replay: re-folding batch 0 must REPLACE its partials
    AdsbStream.mergeBatchIntoHeavyHitterState(
      toks(0, 900).toDF("id", "w"), 0L, "w", path, width = 256)
    val after = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
    assert(after.exceptAll(direct).isEmpty && direct.exceptAll(after).isEmpty)

    // J23 compaction: read-out unchanged, sketch segment collapses to
    // ONE row, and a FOLDED replay noops instead of double-counting
    AdsbStream.compactHeavyHitterState(spark, path, "w", keepRecent = 1)
    val compacted = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
    assert(compacted.exceptAll(direct).isEmpty && direct.exceptAll(compacted).isEmpty)
    assert(spark.read.parquet(s"$path/sketch/batch_id=-1").count() == 1)
    AdsbStream.mergeBatchIntoHeavyHitterState(
      toks(0, 900).toDF("id", "w"), 0L, "w", path, width = 256)
    val replayed = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
    assert(replayed.exceptAll(direct).isEmpty && direct.exceptAll(replayed).isEmpty,
      "folded heavy-hitter replay double-counted")

    // same loop through the actual streaming sink
    val path2 = java.nio.file.Files.createTempDirectory("graft_j22s").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = AdsbStream.startHeavyHitterSink(input.toDF().toDF("id", "w"),
      "w", path2, s"$path2/ckpt", width = 256)
    input.addData(toks(0, 1500))
    q.processAllAvailable()
    input.addData(toks(1500, 3000))
    q.processAllAvailable(); q.stop()
    val streamed = AdsbStream.readHeavyHitterState(spark, path2, "w", 50L)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("streaming ANN ingest: cell-partitioned index serves identically to batch IVF, replay idempotent, scan pruned (J21)") {
    import graft.operators.Embeddings
    import graft.functions.VectorFunctions
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf)
    val cb = VectorFunctions.codebook(8, 64)
    val out = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_annckpt").toString
    // drive the sink through a real stream, two microbatches split by
    // vec_id parity (batch boundaries must not matter)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])](spark)
    val q = AdsbStream.startVectorIngestSink(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", cb,
      out, ckpt)
    input.addData(rows.filter(_._1 % 2 == 0))
    q.processAllAvailable()
    input.addData(rows.filter(_._1 % 2 == 1))
    q.processAllAvailable(); q.stop()

    val queries = emb.filter(col("vec_id") < 3)
    val served = AdsbStream.annServeFromIndex(spark, out, queries, cb,
      "vec_id", "embedding", k = 3)
    val direct = Embeddings.annIvfFold(emb, queries, cb,
      "vec_id", "embedding", 3)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)

    // the serving scan reads ONLY probed cell= partitions
    val planStr = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(planStr).isDefined,
      planStr.take(1200))

    // failure replay: re-ingesting batch 0 must REPLACE its partition
    AdsbStream.ingestVectorBatch(
      rows.filter(_._1 % 2 == 0).toDF("vec_id", "embedding"), 0L,
      "vec_id", "embedding", cb, out)
    val after = AdsbStream.annServeFromIndex(spark, out, queries, cb,
      "vec_id", "embedding", k = 3)
    assert(after.exceptAll(direct).isEmpty && direct.exceptAll(after).isEmpty)
  }

  test("combined union of two streaming sources (J4)") {
    val a = MemoryStream[RawReport](spark)
    val b = MemoryStream[RawReport](spark)
    a.addData(batch1.take(2))
    b.addData(batch1.take(2).map(_.copy(source = "regional")))
    val q = AdsbStream.combined(Seq(
        AdsbStream.normalize(a.toDF()), AdsbStream.normalize(b.toDF())))
      .groupBy("source").count()
      .writeStream.format("memory").queryName("j4_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val m = spark.table("j4_out").as[(String, Long)].collect().toMap
    assert(m == Map("local" -> 2L, "regional" -> 2L))
  }

  test("J11 screening loop: later batches screen against earlier ones, replay is idempotent") {
    import graft.streaming.AdsbStream.StreamDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_j11").toString
    val idx = s"$dir/index"
    val out = s"$dir/survivors"
    val b0 = Seq(
      StreamDoc(1L, "the quick brown fox jumps over the lazy dog tonight"),
      StreamDoc(2L, "completely different text about spark engines and scale limits")
    ).toDF()
    val b1 = Seq(
      StreamDoc(3L, "the quick brown fox jumps over the lazy dog tonight"), // exact near-dup of doc 1
      StreamDoc(4L, "novel content sharing no window of four words anywhere")
    ).toDF()
    AdsbStream.screenAndIndexBatch(b0, 0L, "doc_id", "text", 4, idx, out)
    AdsbStream.screenAndIndexBatch(b1, 1L, "doc_id", "text", 4, idx, out)
    def survivorIds: Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivorIds == Set(1L, 2L, 4L), "doc 3 must be screened by batch 0's index")
    val idxRows = spark.read.parquet(idx).count()
    assert(idxRows == 12,
      "3 SURVIVOR docs x 4 bands in the index — a screened dup's bands stay out")

    // failure-replay of batch 1: index and survivors must not grow
    AdsbStream.screenAndIndexBatch(b1, 1L, "doc_id", "text", 4, idx, out)
    assert(spark.read.parquet(idx).count() == idxRows, "replay duplicated index rows")
    assert(survivorIds == Set(1L, 2L, 4L), "replay changed the survivor set")

    // same loop through the actual streaming sink
    val dir2 = java.nio.file.Files.createTempDirectory("graft_j11s").toString
    val input = MemoryStream[StreamDoc](spark)
    val q = AdsbStream.startScreeningSink(input.toDF(), "doc_id", "text", 4,
      s"$dir2/index", s"$dir2/survivors", s"$dir2/ckpt")
    input.addData(StreamDoc(1L, "alpha beta gamma delta epsilon zeta eta theta"))
    q.processAllAvailable()
    input.addData(StreamDoc(2L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      StreamDoc(3L, "one two three four five six seven eight nine"))
    q.processAllAvailable(); q.stop()
    val s2 = spark.read.parquet(s"$dir2/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 == Set(1L, 3L), "streamed doc 2 must be screened against batch 0")
  }

  test("J14 substring screen: unaligned span repeats screened, short docs pass, replay idempotent") {
    import graft.streaming.AdsbStream.StreamDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_j14").toString
    val (idx, out) = (s"$dir/index", s"$dir/survivors")
    val t = (0 until 30).map(i => s"w$i")
    val b0 = Seq(
      StreamDoc(1L, t.mkString(" ")), // 30 tokens: 21 windows at k=10
      StreamDoc(2L, "short doc below the window size")).toDF()
    val b1 = Seq(
      // repeats tokens 7..22 of doc 1 at offset 3 — no doc-level
      // exact dup, no aligned chunk, but a 16-token span ≥ k=10
      StreamDoc(3L, ((0 until 3).map(i => s"a$i") ++ t.slice(7, 23) ++
        (0 until 3).map(i => s"b$i")).mkString(" ")),
      StreamDoc(4L, (0 until 30).map(i => s"n$i").mkString(" "))).toDF()
    AdsbStream.substringScreenBatch(b0, 0L, "doc_id", "text", 10, idx, out)
    AdsbStream.substringScreenBatch(b1, 1L, "doc_id", "text", 10, idx, out)
    def survivorIds: Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivorIds == Set(1L, 2L, 4L),
      "doc 3 repeats a 16-token span of doc 1 and must be screened")
    // index holds SURVIVOR window hashes only: docs 1 (21) + 4 (21);
    // doc 2 is sub-k (no windows), doc 3 is screened
    val idxRows = spark.read.parquet(idx).count()
    assert(idxRows == 42, s"expected 42 survivor window hashes, got $idxRows")
    // failure replay of batch 1: nothing grows
    AdsbStream.substringScreenBatch(b1, 1L, "doc_id", "text", 10, idx, out)
    assert(spark.read.parquet(idx).count() == idxRows)
    assert(survivorIds == Set(1L, 2L, 4L))
    // the same loop through the streaming sink
    val dir2 = java.nio.file.Files.createTempDirectory("graft_j14s").toString
    val input = MemoryStream[StreamDoc](spark)
    val q = AdsbStream.startSubstringScreenSink(input.toDF(), "doc_id", "text",
      10, s"$dir2/index", s"$dir2/survivors", s"$dir2/ckpt")
    input.addData(StreamDoc(1L, (0 until 20).map(i => s"x$i").mkString(" ")))
    q.processAllAvailable()
    input.addData(
      StreamDoc(2L, ("pre " + (0 until 20).map(i => s"x$i").mkString(" "))), // contains doc 1
      StreamDoc(3L, (0 until 20).map(i => s"y$i").mkString(" ")))
    q.processAllAvailable(); q.stop()
    val s2 = spark.read.parquet(s"$dir2/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 == Set(1L, 3L), "streamed doc 2 embeds doc 1's span and must be screened")
  }

  test("J17 paragraph screen: cross-batch boilerplate cut, within-batch keeper election, replay idempotent") {
    import graft.streaming.AdsbStream.StreamDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_j17").toString
    val (idx, out) = (s"$dir/index", s"$dir/survivors")
    val b0 = Seq(
      // shared header across both docs: within-batch keeper = doc 1
      // (min (id, para_idx)); doc 2 keeps only its unique body
      StreamDoc(1L, "SHARED HEADER welcome\nunique body one"),
      StreamDoc(2L, "SHARED HEADER welcome\nunique body two"),
      // normalization collapse: digit/case/punct variant of doc 1's
      // header — cut as a within-batch repeat despite differing text
      StreamDoc(3L, "shared header WELCOME!!!\nunique body three")).toDF()
    AdsbStream.paragraphScreenBatch(b0, 0L, "doc_id", "text", idx, out)
    def surv = spark.read.parquet(out)
      .select("doc_id", "text_kept", "n_kept").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(surv.keySet == Set(1L, 2L, 3L))
    assert(surv(1L)._1 == "SHARED HEADER welcome\nunique body one")
    assert(surv(2L)._1 == "unique body two")
    assert(surv(3L)._1 == "unique body three")
    // index = distinct keeper keys: header + three bodies
    assert(spark.read.parquet(idx).count() == 4)
    val b1 = Seq(
      // re-crawl: the header again (cut via the INDEX now), a body
      // repeat, and one genuinely new paragraph
      StreamDoc(4L, "SHARED HEADER welcome\nunique body one\nbrand new paragraph"),
      // all paragraphs already seen → doc dropped entirely
      StreamDoc(5L, "SHARED HEADER welcome\nunique body two")).toDF()
    AdsbStream.paragraphScreenBatch(b1, 1L, "doc_id", "text", idx, out)
    assert(surv.keySet == Set(1L, 2L, 3L, 4L), "doc 5 must drop (no new paragraph)")
    assert(surv(4L)._1 == "brand new paragraph")
    // survivor-linear: exactly ONE new key (the new paragraph)
    assert(spark.read.parquet(idx).count() == 5)
    // failure replay of batch 1: nothing grows, outputs unchanged
    AdsbStream.paragraphScreenBatch(b1, 1L, "doc_id", "text", idx, out)
    assert(spark.read.parquet(idx).count() == 5)
    assert(surv.keySet == Set(1L, 2L, 3L, 4L) && surv(4L)._1 == "brand new paragraph")
    // empty paragraphs pass through, preserving blank-line structure
    val b2 = Seq(StreamDoc(6L, "alpha unique six\n\nbeta unique six")).toDF()
    AdsbStream.paragraphScreenBatch(b2, 2L, "doc_id", "text", idx, out)
    assert(surv(6L)._1 == "alpha unique six\n\nbeta unique six")
    assert(surv(6L)._2 == 3L) // 2 non-empty + 1 empty all kept
    // the same loop through the streaming sink
    val dir2 = java.nio.file.Files.createTempDirectory("graft_j17s").toString
    val input = MemoryStream[StreamDoc](spark)
    val q = AdsbStream.startParagraphScreenSink(input.toDF(), "doc_id", "text",
      s"$dir2/index", s"$dir2/survivors", s"$dir2/ckpt")
    input.addData(StreamDoc(1L, "footer (c) 2024\nfirst real content"))
    q.processAllAvailable()
    input.addData(StreamDoc(2L, "Footer (C) 2025\nsecond real content"))
    q.processAllAvailable(); q.stop()
    val s2 = spark.read.parquet(s"$dir2/survivors")
      .select("doc_id", "text_kept").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s2(1L) == "footer (c) 2024\nfirst real content")
    assert(s2(2L) == "second real content",
      "the year-variant footer normalizes to the indexed key and must be cut")
  }

  test("J11 loop runs on the OPH fingerprint family (bandFn parameter)") {
    import graft.streaming.AdsbStream.StreamDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_j11oph").toString
    val (idx, out) = (s"$dir/index", s"$dir/survivors")
    val oph: (org.apache.spark.sql.DataFrame, String, String, Int) =>
      org.apache.spark.sql.DataFrame =
      graft.operators.Dedup.onePermBandsRowLocal(_, _, _, _)
    val b0 = Seq(
      StreamDoc(1L, "the quick brown fox jumps over the lazy dog tonight"),
      StreamDoc(2L, "completely different text about spark engines and scale limits")
    ).toDF()
    val b1 = Seq(
      StreamDoc(3L, "the quick brown fox jumps over the lazy dog tonight"),
      StreamDoc(4L, "novel content sharing no window of four words anywhere")
    ).toDF()
    AdsbStream.screenAndIndexBatch(b0, 0L, "doc_id", "text", 4, idx, out, oph)
    AdsbStream.screenAndIndexBatch(b1, 1L, "doc_id", "text", 4, idx, out, oph)
    val got = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 4L), "OPH bands must screen the exact dup too")
  }

  test("streaming bloom screen equals exact anti join (J12)") {
    import graft.streaming.AdsbStream.StreamDoc
    val input = MemoryStream[StreamDoc](spark)
    // blacklist: every doc_id divisible by 7
    val blacklist = spark.range(0, 1000).filter(col("id") % 7 === 0)
      .select(col("id").as("banned"))
    val screened = AdsbStream.bloomScreenStream(
      input.toDF(), "doc_id", blacklist, "banned", 1 << 14, 5)
    val q = screened.writeStream.format("memory").queryName("j12_out")
      .outputMode("append").start()
    val docs = (0L until 200L).map(i => StreamDoc(i, s"doc $i"))
    input.addData(docs)
    q.processAllAvailable()
    input.addData(StreamDoc(700L, "late banned"), StreamDoc(701L, "late clean"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("j12_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = ((0L until 200L) ++ Seq(700L, 701L)).filter(_ % 7 != 0).toSet
    assert(got == want, "bloom screen must be bit-exact vs plain anti join")
  }

  test("streaming quality gate scores equal the batch h14 spelling (J13)") {
    import graft.streaming.AdsbStream.StreamDoc
    val weights = graft.queries.PipelineQueries.classifierWeights
    val docs = (0L until 120L).map(i =>
      StreamDoc(i, (0 to (i % 9).toInt).map(j => s"w${(i * 7 + j) % 40}").mkString(" ")))
    val input = MemoryStream[StreamDoc](spark)
    val gated = AdsbStream.qualityGateStream(
      input.toDF(), "doc_id", "text", weights)
    val q = gated.writeStream.format("memory").queryName("j13_out")
      .outputMode("append").start()
    input.addData(docs.take(60)); q.processAllAvailable()
    input.addData(docs.drop(60)); q.processAllAvailable(); q.stop()
    val got = spark.table("j13_out")
      .select("doc_id", "n_tokens", "score")
      .as[(Long, Long, Long)].collect().toSet
    // batch h14 spelling: explode + groupBy over the same docs
    val batch = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .withColumn("wgt", element_at(typedLit(weights),
        ((graft.functions.HashFunctions.md5prefix64(col("w")) % 64L) + 1L).cast("int")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("wgt")).as("score"))
      .filter(col("score") > 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == batch)
    assert(got.nonEmpty && got.size < docs.size,
      "gate must pass some docs and reject some")
  }

  test("streaming Gopher gate verdicts equal the batch h17 battery (J15)") {
    import graft.streaming.AdsbStream.StreamDoc
    val docs = graft.operators.QualityRules.BatteryDocs
      .map { case (id, text) => StreamDoc(id, text) }
    val input = MemoryStream[StreamDoc](spark)
    val gated = AdsbStream.gopherGateStream(input.toDF(), "doc_id", "text")
    val q = gated.writeStream.format("memory").queryName("j15_out")
      .outputMode("append").start()
    input.addData(docs.take(5)); q.processAllAvailable()
    input.addData(docs.drop(5)); q.processAllAvailable(); q.stop()
    val got = spark.table("j15_out").select("doc_id")
      .as[Long].collect().toSet
    // only the golden doc passes all 10 rules
    assert(got == Set(900000L))
    // gopher-only mode additionally passes the c4-failing docs
    val input2 = MemoryStream[StreamDoc](spark)
    val gated2 = AdsbStream.gopherGateStream(input2.toDF(), "doc_id", "text",
      requireC4 = false)
    val q2 = gated2.writeStream.format("memory").queryName("j15b_out")
      .outputMode("append").start()
    input2.addData(docs); q2.processAllAvailable(); q2.stop()
    val got2 = spark.table("j15b_out").select("doc_id")
      .as[Long].collect().toSet
    assert(got2 == Set(900000L, 900008L, 900009L, 900010L))
  }

  test("streaming mixing gate keeps exactly the batch p5 keep set, statelessly (J18)") {
    val rates = Seq("en" -> 1000000L, "de" -> 600000L, "fr" -> 500000L,
      "es" -> 400000L, "zh" -> 250000L)
    val langs = Vector("en", "de", "fr", "es", "zh")
    val docs = (0L until 400L).map(i => (i, langs((i % 5).toInt), s"doc $i"))
    val input = MemoryStream[(Long, String, String)](spark)
    val mixed = AdsbStream.mixingGateStream(
      input.toDF().select(col("_1").as("doc_id"), col("_2").as("lang"),
        col("_3").as("text")),
      "doc_id", "lang", rates)
    val q = mixed.writeStream.format("memory").queryName("j18_out")
      .outputMode("append").start()
    input.addData(docs.take(150)); q.processAllAvailable()
    input.addData(docs.drop(150)); q.processAllAvailable()
    // stateless: a pure map-side filter must run with ZERO streaming
    // state (no aggregation, no dedup buffer, no watermark)
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    q.stop()
    val got = spark.table("j18_out").select("doc_id")
      .as[Long].collect().toSet
    // the batch P5 spelling over the same docs — same hash, same salt
    val want = docs.toDF("doc_id", "lang", "text")
      .withColumn("__u", pmod(graft.functions.HashFunctions.md5prefix64(
        concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L)))
      .join(rates.toDF("lang", "ppm"), Seq("lang"))
      .filter(col("__u") < col("ppm"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    // every class present, and rate ordering visible: en keeps all,
    // zh keeps a strict subset
    val gotByLang = docs.filter(d => got(d._1)).groupBy(_._2)
      .view.mapValues(_.size).toMap
    assert(gotByLang("en") == 80)
    assert(gotByLang("zh") > 0 && gotByLang("zh") < 80)
  }

  test("streaming language gate labels equal the batch h20 classifier, statelessly (J19)") {
    import graft.operators.LangClassifier
    import graft.sources.Tables
    // train once on the labeled multilingual slice (the h20 path)
    val synth = LangClassifier.synthDocs(Tables.documents(spark, sf))
    val weights = LangClassifier.collectLangWeights(
      LangClassifier.trainLangWeights(
        synth.filter(pmod(col("doc_id"), lit(10)) < 7), "text", "lang"))
    val hold = synth.filter(pmod(col("doc_id"), lit(10)) >= 7)
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    val input = MemoryStream[(Long, String, String)](spark)
    val gated = AdsbStream.langGateStream(
      input.toDF().select(col("_1").as("doc_id"), col("_2").as("lang"),
        col("_3").as("text")),
      "doc_id", "text", weights, keep = Set("en", "zh"))
    val q = gated.writeStream.format("memory").queryName("j19_out")
      .outputMode("append").start()
    input.addData(hold.take(hold.size / 2)); q.processAllAvailable()
    input.addData(hold.drop(hold.size / 2)); q.processAllAvailable()
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    q.stop()
    val got = spark.table("j19_out").select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    // batch h20 serving over the same docs: identical labels, and the
    // kept set is exactly the en/zh-classified docs (which, at 100%
    // held-out accuracy, is exactly the en/zh-LABELED docs)
    val batch = LangClassifier.classify(
      hold.toDF("doc_id", "lang", "text"), "doc_id", "text", weights)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == batch.filter(kv => Set("en", "zh")(kv._2)))
    val truth = hold.map(d => d._1 -> d._2).toMap
    assert(got.keySet == truth.filter(kv => Set("en", "zh")(kv._2)).keySet)
    assert(got.nonEmpty && got.size < hold.size)
  }

  test("J16 media screen: re-encoded copies confirmed and screened, new assets pass, replay idempotent") {
    import graft.operators.{MediaCodec, Multimodal}
    import Multimodal.MediaRecord
    val dir = java.nio.file.Files.createTempDirectory("graft_j16").toString
    val (idx, out) = (s"$dir/index", s"$dir/survivors")
    val png1 = MediaCodec.synthImagePng(1L, 96, 96)
    val png2 = MediaCodec.synthImagePng(987654L, 96, 96)
    val junk = "opaque undecodable payload".getBytes("UTF-8")
    val b0 = Seq(
      MediaRecord(1L, png1, "image", "png"),
      MediaRecord(2L, png2, "image", "png"),
      MediaRecord(99L, junk, "binary", "unknown")).toDF()
    val b1 = Seq(
      // lossy JPEG copy of asset 1 — a true perceptual near-dup
      MediaRecord(3L, MediaCodec.reencodeJpeg(png1).get, "image", "jpeg"),
      // genuinely new asset
      MediaRecord(4L, MediaCodec.synthImagePng(42L, 96, 96), "image", "png"),
      // byte-identical undecodable twin: the stub-hash fallback path
      // must still screen exact re-ingests (Hamming 0)
      MediaRecord(98L, junk, "binary", "unknown")).toDF()
    AdsbStream.mediaScreenBatch(b0, 0L, "doc_id", "payload", idx, out)
    AdsbStream.mediaScreenBatch(b1, 1L, "doc_id", "payload", idx, out)
    def survivorIds: Set[Long] = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(survivorIds == Set(1L, 2L, 99L, 4L),
      s"jpeg copy (3) and undecodable twin (98) must screen; got $survivorIds")
    // survivor-only index: 4 surviving assets × 8 bands
    val idxRows = spark.read.parquet(idx).count()
    assert(idxRows == 32, s"expected 32 survivor band rows, got $idxRows")
    // failure replay of batch 1: nothing grows, survivors unchanged
    AdsbStream.mediaScreenBatch(b1, 1L, "doc_id", "payload", idx, out)
    assert(spark.read.parquet(idx).count() == idxRows)
    assert(survivorIds == Set(1L, 2L, 99L, 4L))
    // the same loop through the streaming sink
    val dir2 = java.nio.file.Files.createTempDirectory("graft_j16s").toString
    val input = MemoryStream[MediaRecord](spark)
    val q = AdsbStream.startMediaScreenSink(input.toDF(), "doc_id", "payload",
      s"$dir2/index", s"$dir2/survivors", s"$dir2/ckpt")
    input.addData(MediaRecord(1L, png1, "image", "png"))
    q.processAllAvailable()
    input.addData(
      MediaRecord(2L, MediaCodec.resizePng(png1, 48, 48).get, "image", "png"), // 2x downscale of asset 1
      MediaRecord(3L, png2, "image", "png"))
    q.processAllAvailable(); q.stop()
    val s2 = spark.read.parquet(s"$dir2/survivors")
      .select("doc_id").as[Long].collect().toSet
    assert(s2 == Set(1L, 3L), "streamed downscaled copy of asset 1 must be screened")
  }

  test("streaming shard emitter: exactly-once docs, audited manifests, byte-stable replay (J24)") {
    def docs(lo: Int, hi: Int): Seq[(Long, String, String)] =
      (lo until hi).map { i =>
        (i.toLong, s"doc $i " + (s"tok$i word " * (i % 7 + 3)), s"src${i % 3}")
      }
    val path = java.nio.file.Files.createTempDirectory("graft_j24").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_j24c").toString
    val input = MemoryStream[(Long, String, String)](spark)
    val named = input.toDF().toDF("doc_id", "text", "source")
    val q = AdsbStream.startShardEmitterSink(named, path, ckpt,
      tokensPerShard = 64L)
    input.addData(docs(0, 40))
    q.processAllAvailable()
    input.addData(docs(40, 100))
    q.processAllAvailable(); q.stop()

    // exactly-once: the shard store holds every input doc exactly once
    val stored = spark.read.parquet(s"$path/shards")
    assert(stored.count() == 100)
    assert(stored.select("doc_id").distinct().count() == 100)
    // the audit: every (batch_id, shard)'s read-back manifest matches
    // the planned one written at emit time
    val audit = AdsbStream.auditShardStore(spark, path).collect()
    assert(audit.nonEmpty && audit.forall(r =>
      r.getBoolean(4) && r.getBoolean(5)), audit.mkString("\n"))
    // shard ids are batch-scoped and both batches produced several
    assert(audit.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L))
    assert(audit.count(_.getLong(0) == 0L) > 1)

    // failure replay of batch 0: deterministic re-plan, dynamic
    // overwrite — the store is unchanged (no duplicates, audit clean)
    val before = stored.orderBy("doc_id")
      .collect().map(_.toString).toSeq
    AdsbStream.emitShardBatch(docs(0, 40).toDF("doc_id", "text", "source"),
      0L, path, tokensPerShard = 64L)
    val after = spark.read.parquet(s"$path/shards").orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(after == before, "replay changed the shard store")
    val audit2 = AdsbStream.auditShardStore(spark, path).collect()
    assert(audit2.forall(r => r.getBoolean(4) && r.getBoolean(5)))

    // a tampered shard file is caught by the audit: rewrite one
    // shard's data (same layout, altered text) without its manifest
    val victim = audit.head
    val vdir = s"$path/shards/batch_id=${victim.getLong(0)}/shard=${victim.getLong(1)}"
    val vrows = spark.read.parquet(vdir)
    vrows.withColumn("text", concat(col("text"), lit(" TAMPERED")))
      .write.mode("overwrite").parquet(s"$vdir.tmp")
    val fs = new java.io.File(vdir)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf); f.delete()
    }
    rmrf(fs)
    new java.io.File(s"$vdir.tmp").renameTo(fs)
    val audit3 = AdsbStream.auditShardStore(spark, path)
      .filter(col("batch_id") === victim.getLong(0) &&
        col("shard") === victim.getLong(1)).head()
    assert(!audit3.getBoolean(4), "tampered shard passed the content audit")
  }

  test("J24 replay with a changed shard budget prunes stale higher-numbered shard dirs") {
    // tokensPerShard is contractually immutable for a store's life,
    // but a replay that plans FEWER shards (budget raised between
    // attempts) must not leave the old higher-numbered shard dirs as
    // orphans that only surface later as audit failures — the emit
    // heals them by pruning above the new plan's max before writing
    def docs: org.apache.spark.sql.DataFrame =
      (0 until 60).map { i =>
        (i.toLong, s"doc $i " + ("tok word " * 6), s"src${i % 3}")
      }.toDF("doc_id", "text", "source")
    val path = java.nio.file.Files.createTempDirectory("graft_j24p").toString
    AdsbStream.emitShardBatch(docs, 0L, path, tokensPerShard = 32L)
    val shardsSmall = new java.io.File(s"$path/shards/batch_id=0")
      .listFiles().count(_.getName.startsWith("shard="))
    assert(shardsSmall > 4, s"expect many small-budget shards, got $shardsSmall")
    // replay with a 10x budget: far fewer shards planned
    AdsbStream.emitShardBatch(docs, 0L, path, tokensPerShard = 320L)
    val dirsAfter = new java.io.File(s"$path/shards/batch_id=0")
      .listFiles().filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    val manifest = spark.read.parquet(s"$path/manifest")
      .filter(col("batch_id") === 0L)
    val planned = manifest.count()
    assert(dirsAfter.length == planned,
      s"stale shard dirs survived: ${dirsAfter.mkString(",")} vs $planned planned")
    // store still holds every doc exactly once and audits clean
    val stored = spark.read.parquet(s"$path/shards")
    assert(stored.count() == 60 && stored.select("doc_id").distinct().count() == 60)
    val audit = AdsbStream.auditShardStore(spark, path).collect()
    assert(audit.forall(r => r.getBoolean(4) && r.getBoolean(5)),
      audit.mkString("\n"))
  }

  test("streaming token-distribution state: drift report equals one-shot batch h22, replay idempotent (J25)") {
    import graft.operators.TextOps
    // three sources with different token mixes, delivered across two
    // uneven batches — batch boundaries must not matter
    def docs(lo: Int, hi: Int): Seq[(Long, String, String)] =
      (lo until hi).map { i =>
        val src = s"src${i % 3}"
        val skew = if (i % 3 == 0) " alpha" * (i % 5) else " beta" * (i % 4)
        (i.toLong, s"common words here$skew", src)
      }
    val path = java.nio.file.Files.createTempDirectory("graft_j25").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_j25c").toString
    val input = MemoryStream[(Long, String, String)](spark)
    val named = input.toDF().toDF("doc_id", "text", "source")
    val q = AdsbStream.startTokenStateSink(named, "source", "text", path, ckpt)
    input.addData(docs(0, 70))
    q.processAllAvailable()
    input.addData(docs(70, 200))
    q.processAllAvailable(); q.stop()

    val streamed = AdsbStream.readDriftReport(spark, path, "source")
    val direct = TextOps.tokenDriftReport(
      docs(0, 200).toDF("doc_id", "text", "source"), "source")
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
      "streamed drift report diverged from the one-shot batch report")

    // state is vocabulary-grain: far fewer rows than token occurrences
    val stateRows = spark.read.parquet(path).count()
    assert(stateRows < 200 * 4, s"state not vocabulary-bounded: $stateRows")

    // failure replay: re-folding batch 0 must REPLACE its partials
    AdsbStream.mergeBatchIntoTokenState(
      docs(0, 70).toDF("doc_id", "text", "source"), 0L, "source", "text", path)
    val after = AdsbStream.readDriftReport(spark, path, "source")
    assert(after.exceptAll(direct).isEmpty && direct.exceptAll(after).isEmpty)
  }

  // J26's label machinery driven with a fully deterministic band
  // family: one band per word, so the candidate graph is EXACTLY
  // "docs sharing a word" and every merge case is scriptable (the
  // default minhash family is spec'd via exact dups below and in
  // RowLocalMinhashSpec — statistics stay out of this test).
  private def wordBands(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, n: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .select(col(idCol), lit(0).as("band"), xxhash64(col("__w")).as("sig"))
      .distinct()

  private def batchLabelsVia(
      bandFn: (org.apache.spark.sql.DataFrame, String, String, Int) => org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    // the batch truth J26 must reproduce: components over the SAME
    // banded candidate graph, one-shot over the union of batches
    val b = bandFn(docs, "doc_id", "text", 4)
    val pairs = b.select(col("doc_id").as("a"), col("band"), col("sig"))
      .join(b.select(col("doc_id").as("b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    graft.operators.Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("J26 group labels: bridge reconciliation, parity with batch components, replay + compaction invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft_j26").toString
    val b0 = Seq((10L, "a"), (11L, "a b"), (20L, "c"), (21L, "c d"),
      (30L, "e")).toDF("doc_id", "text")
    val b1 = Seq((40L, "b d"), (41L, "zz")).toDF("doc_id", "text") // 40 BRIDGES {10,11} and {20,21}
    val b2 = Seq((5L, "e")).toDF("doc_id", "text") // pairs DOWNWARD with old singleton 30
    AdsbStream.labelBatchIntoGroupState(b0, 0L, "doc_id", "text", 4, dir, wordBands)
    AdsbStream.labelBatchIntoGroupState(b1, 1L, "doc_id", "text", 4, dir, wordBands)
    AdsbStream.labelBatchIntoGroupState(b2, 2L, "doc_id", "text", 4, dir, wordBands)
    val union = b0.unionByName(b1).unionByName(b2)
    def streamed: Map[Long, Long] = AdsbStream.readNearDupLabels(spark, dir, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = batchLabelsVia(wordBands, union)
    assert(want == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L,
      40L -> 10L, 5L -> 5L, 30L -> 5L), s"batch truth unexpected: $want")
    assert(streamed == want, "streamed labels diverged from batch components")

    // replay of the bridging batch: state must resolve identically
    val rowsBefore = spark.read.parquet(s"$dir/labels").count()
    AdsbStream.labelBatchIntoGroupState(b1, 1L, "doc_id", "text", 4, dir, wordBands)
    assert(spark.read.parquet(s"$dir/labels").count() == rowsBefore,
      "replay grew the label log")
    assert(streamed == want, "replay changed resolved labels")

    // compaction with the min-label hook: read-out unchanged, log
    // shrinks to one row per paired doc
    import graft.streaming.StreamIndexCompaction
    StreamIndexCompaction.compactIndex(spark, s"$dir/labels", keepRecent = 1,
      merge = StreamIndexCompaction.mergeMinLabel("doc_id"))
    StreamIndexCompaction.compactIndex(spark, s"$dir/bands", keepRecent = 1)
    assert(streamed == want, "compaction changed resolved labels")

    // a post-compaction batch must still reconcile against the folded
    // segment: doc 2 pairs with component 10 and LOWERS it — every
    // member needs a fresh row even though their rows live in the
    // sentinel segment
    AdsbStream.labelBatchIntoGroupState(
      Seq((2L, "a")).toDF("doc_id", "text"), 3L, "doc_id", "text", 4, dir, wordBands)
    val want2 = batchLabelsVia(wordBands,
      union.unionByName(Seq((2L, "a")).toDF("doc_id", "text")))
    assert(want2.filterKeys(Set(2L, 10L, 11L, 20L, 21L, 40L)).forall(_._2 == 2L))
    assert(streamed == want2, "post-compaction bridge failed to reconcile")

    // canonical selection over the streamed labels (the P6 read-out):
    // highest quality wins, ties to min id; singletons self-canonical
    val docsQ = union.unionByName(Seq((2L, "a")).toDF("doc_id", "text"))
      .withColumn("quality", (col("doc_id") % 7).cast("double"))
    val canon = AdsbStream.canonicalFromLabels(spark, dir, docsQ, "doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // cluster 2 = {2,10,11,20,21,40}: qualities 2,3,4,6,0,5 → keep 20 (6.0)
    // cluster 5 = {5,30}: qualities 5,2 → keep 5; singleton 41 → keeps itself
    assert(canon == Set((2L, 20L, 6.0, 6L), (5L, 5L, 5.0, 2L),
      (41L, 41L, 6.0, 1L)), s"canonical selection wrong: $canon")

    // F16 soft-dedup over the SAME streamed labels: every member of
    // the 6-cluster weighs 166666 ppm, the pair weighs 500000, the
    // singleton 1e6 — batch f16's exact arithmetic on stream-found
    // clusters
    val docsT = union.unionByName(Seq((2L, "a")).toDF("doc_id", "text"))
    val weights = AdsbStream.softWeightsFromLabels(spark, dir, docsT,
      "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(weights.size == 9)
    for (m <- Seq(2L, 10L, 11L, 20L, 21L, 40L))
      assert(weights(m) == (2L, 6L, 166666L), s"$m: ${weights(m)}")
    for (m <- Seq(5L, 30L))
      assert(weights(m) == (5L, 2L, 500000L), s"$m: ${weights(m)}")
    assert(weights(41L) == (41L, 1L, 1000000L))
  }

  test("J26 on the default minhash family: exact twins group across batches, label-state rows stay paired-doc-bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_j26m").toString
    val t1 = "the quick brown fox jumps over the lazy dog tonight again"
    val t2 = "completely different text about spark engines and scale limits today"
    val b0 = Seq((1L, t1), (2L, t2),
      (3L, "unique filler content with no twin anywhere in this stream")).toDF("doc_id", "text")
    val b1 = Seq((4L, t1), (5L, t2),
      (6L, "another unique document that matches nothing else at all")).toDF("doc_id", "text")
    AdsbStream.labelBatchIntoGroupState(b0, 0L, "doc_id", "text", 4, dir)
    AdsbStream.labelBatchIntoGroupState(b1, 1L, "doc_id", "text", 4, dir)
    val got = AdsbStream.readNearDupLabels(spark, dir, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 5L -> 2L),
      s"exact twins must group, uniques must stay out of the log: $got")
    // the log carries rows for PAIRED docs only — never one per event
    val logRows = spark.read.parquet(s"$dir/labels").count()
    assert(logRows <= 4L, s"label log not paired-doc-bounded: $logRows")

    // a stream with NO pairs yet: the read-out is empty (not a
    // crash) and canonical selection degrades to all-singletons
    val dir2 = java.nio.file.Files.createTempDirectory("graft_j26e").toString
    val solo = Seq((7L, "entirely novel text with no twin present here at all"))
      .toDF("doc_id", "text")
    AdsbStream.labelBatchIntoGroupState(solo, 0L, "doc_id", "text", 4, dir2)
    assert(AdsbStream.readNearDupLabels(spark, dir2, "doc_id").count() == 0L)
    val c0 = AdsbStream.canonicalFromLabels(spark, dir2,
      solo.withColumn("quality", lit(1.0)), "doc_id", "quality").collect()
    assert(c0.length == 1 && c0.head.getLong(1) == 7L)
  }
}
