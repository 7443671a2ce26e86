package graft

import graft.streaming.AdsbStream.StreamDoc
import graft.streaming.{AdsbStream, StreamIndexCompaction}
import org.apache.spark.sql.functions._

/** J23 specs: background merge for the batch_id-partitioned streaming
  * indexes — screen/state results identical before and after
  * compaction, replay contract preserved, crash leftovers converge.
  */
class StreamIndexCompactionSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def copyDir(src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    val fs = s.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, d, false, conf)
  }

  private def partitionDirs(path: String): Set[String] =
    new java.io.File(path).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).toSet

  private def doc(id: Long, seed: Long): StreamDoc =
    StreamDoc(id, (0 until 12).map(j => s"w${(seed * 31 + j * 7) % 97}_$j").mkString(" "))

  test("J23: screen decisions identical before/after compaction; folded replay noops; recent replay still overwrites") {
    val root = tmp("graft_j23_screen")
    val (idx, out) = (s"$root/index", s"$root/survivors")
    // 5 batches, each with one fresh doc and (from batch 1 on) one
    // dup of an earlier batch's doc — so the screen genuinely uses
    // history
    (0 until 5).foreach { b =>
      val fresh = doc(b * 10L, b.toLong)
      val dup = if (b == 0) Nil else Seq(doc(b * 10L + 1, 0L)) // twin of batch 0's doc
      AdsbStream.screenAndIndexBatch((fresh +: dup).toDF(), b.toLong,
        "doc_id", "text", 4, idx, out)
    }
    val survivorsBefore = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(survivorsBefore == Set(0L, 10L, 20L, 30L, 40L),
      "each batch's fresh doc survives; every twin of batch 0 is screened")
    val idxRowsBefore = spark.read.parquet(idx)
      .select("band", "sig", "doc_id").collect().toSet

    // clone the uncompacted index to compare screen decisions
    val rootClone = tmp("graft_j23_clone")
    copyDir(idx, s"$rootClone/index")
    copyDir(out, s"$rootClone/survivors")

    val through = StreamIndexCompaction.compactIndex(spark, idx, keepRecent = 2)
    assert(through.contains(2L), "batches 0..2 fold at keepRecent=2 with max id 4")
    StreamIndexCompaction.compactIndex(spark, out, keepRecent = 2)
    assert(partitionDirs(idx) == Set("batch_id=-1", "batch_id=3", "batch_id=4"),
      "closed partitions consolidate under the sentinel; recent ones stay")
    assert(StreamIndexCompaction.compactedThrough(spark, idx) == 2L)

    // the index CONTENT is unchanged — same (band, sig, doc_id) rows
    val idxRowsAfter = spark.read.parquet(idx)
      .select("band", "sig", "doc_id").collect().toSet
    assert(idxRowsAfter == idxRowsBefore, "compaction must not alter index rows")

    // a probe batch screens IDENTICALLY against compacted and clone
    val probe = Seq(doc(100L, 2L), doc(101L, 999L)).toDF() // twin of batch 2's fresh + novel
    AdsbStream.screenAndIndexBatch(probe, 5L, "doc_id", "text", 4, idx, out)
    AdsbStream.screenAndIndexBatch(probe, 5L, "doc_id", "text", 4,
      s"$rootClone/index", s"$rootClone/survivors")
    val sComp = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    val sClone = spark.read.parquet(s"$rootClone/survivors")
      .select("doc_id").as[Long].collect().toSet
    assert(sComp == sClone, "screen decisions diverged after compaction")
    assert(sComp.contains(101L) && !sComp.contains(100L),
      "history folded into the segment must still screen")

    // replay of a FOLDED batch (id 1 <= compactedThrough) must NOOP:
    // no new partition dir, index rows unchanged
    val rowsNow = spark.read.parquet(idx).count()
    AdsbStream.screenAndIndexBatch(
      Seq(doc(1L * 10, 1L)).toDF(), 1L, "doc_id", "text", 4, idx, out)
    assert(!partitionDirs(idx).contains("batch_id=1"),
      "folded replay recreated its partition")
    assert(spark.read.parquet(idx).count() == rowsNow, "folded replay grew the index")

    // replay of a RECENT batch (id 4, above the watermark) must still
    // overwrite its own partition — the original idempotence contract
    AdsbStream.screenAndIndexBatch(
      Seq(doc(4L * 10, 4L)).toDF(), 4L, "doc_id", "text", 4, idx, out)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet == sComp,
      "recent replay changed the survivor set")
  }

  test("J23: agg-state merge-on-read identical after state-merging compaction; segment one row per (day, key)") {
    val root = tmp("graft_j23_agg")
    def rpt(hex: String, s: Long, gs: Double) = AdsbStream.RawReport(
      Some(hex), Some("c"), Some(50.0), Some(0.0), Some("1000"), Some(gs),
      "local", new java.sql.Timestamp(1700000000000L + s * 1000))
    (0 until 6).foreach { b =>
      val batch = AdsbStream.normalize(Seq(
        rpt(s"AC${b % 2}", b * 10L, 100.0 + b),
        rpt("AC9", b * 10L + 1, 50.0 + b)).toDF())
      AdsbStream.mergeBatchIntoAggState(batch, b.toLong, "scrape_time",
        "icao24", "ground_speed", root)
    }
    val before = AdsbStream.readAggState(spark, root, "icao24").collect().toSet
    StreamIndexCompaction.compactIndex(spark, root, keepRecent = 2,
      merge = StreamIndexCompaction.mergeAggState("icao24"))
    val after = AdsbStream.readAggState(spark, root, "icao24").collect().toSet
    assert(after == before, "merge-on-read changed after compaction")
    // the segment holds MERGED states: one row per (day, key)
    val seg = spark.read.parquet(s"$root/batch_id=-1")
    assert(seg.count() == seg.select("day", "icao24").distinct().count())

    // folded replay noops (would double-count if it wrote)
    AdsbStream.mergeBatchIntoAggState(
      AdsbStream.normalize(Seq(rpt("AC0", 0L, 100.0)).toDF()), 0L,
      "scrape_time", "icao24", "ground_speed", root)
    val replayed = AdsbStream.readAggState(spark, root, "icao24").collect().toSet
    assert(replayed == before, "folded agg-state replay double-counted")
  }

  test("J23: token-drift read-out identical after count-sum compaction; the log collapses to vocabulary rows") {
    val root = tmp("graft_j23_tok")
    // J25's drift log: every batch writes its (source, token) partial
    // counts, so the log holds ~batches × vocabulary rows
    def docBatch(b: Int) = spark.range(300).select(
      concat(lit("src"), pmod(col("id"), lit(3))).as("source"),
      concat(lit("common words w"), pmod(col("id") * 31 + lit(b.toLong), lit(64L)),
        lit(" tail"), pmod(col("id"), lit(7L))).as("text"))
    val batches = 12
    (0 until batches).foreach { b =>
      AdsbStream.mergeBatchIntoTokenState(docBatch(b), b.toLong, "source", "text", root)
    }
    def report = AdsbStream.readDriftReport(spark, root, "source")
      .collect().map(_.toString).sorted.toSeq
    val rowsBefore = spark.read.parquet(root).count()
    val before = report
    StreamIndexCompaction.compactIndex(spark, root, keepRecent = 2,
      merge = StreamIndexCompaction.mergeTokenState("source"))
    val state = spark.read.parquet(root)
    assert(report == before, "compaction changed the drift read-out")
    assert(state.count() < rowsBefore / 3,
      s"count-sum fold must collapse the log: $rowsBefore -> ${state.count()}")
    // one report row per slice, each JSD inside [0, ln 2] plus the 6-dp
    // quantization headroom of TextOps.driftReportFromCounts
    val vocab = state.select("w").distinct().count()
    val jsd = AdsbStream.readDriftReport(spark, root, "source")
      .select("jsd6").as[Double].collect()
    assert(jsd.length == 3)
    assert(jsd.forall(j => j >= 0.0 && j <= math.log(2.0) + vocab * 5e-7), jsd.toSeq)
  }

  test("J23: quantile-sketch read-out identical after compaction; folded replay noops") {
    val root = tmp("graft_j23_q")
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (if (i % 3 == 0) "a" else "b", (i * i % 997) / 10.0))
    (0 until 5).foreach { b =>
      AdsbStream.mergeBatchIntoQuantileState(
        rows(b * 200, (b + 1) * 200).toDF("g", "v"), b.toLong, "g", "v", 1, root)
    }
    val before = AdsbStream.readQuantileState(spark, root, "g", Seq(50, 95))
      .collect().toSet
    StreamIndexCompaction.compactIndex(spark, root, keepRecent = 1,
      merge = StreamIndexCompaction.mergeQuantileState("g"))
    val after = AdsbStream.readQuantileState(spark, root, "g", Seq(50, 95))
      .collect().toSet
    assert(after == before)
    AdsbStream.mergeBatchIntoQuantileState(rows(0, 200).toDF("g", "v"), 0L,
      "g", "v", 1, root)
    assert(AdsbStream.readQuantileState(spark, root, "g", Seq(50, 95))
      .collect().toSet == before, "folded quantile replay double-counted")
  }

  test("J23: ANN index serves identically after cell-preserving compaction; partition prune survives") {
    import graft.functions.VectorFunctions
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf)
    val cb = VectorFunctions.codebook(8, 64)
    val root = tmp("graft_j23_ann")
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    (0 until 4).foreach { b =>
      AdsbStream.ingestVectorBatch(
        rows.filter(_._1 % 4 == b).toDF("vec_id", "embedding"), b.toLong,
        "vec_id", "embedding", cb, root)
    }
    val queries = emb.filter(col("vec_id") < 3)
    val before = AdsbStream.annServeFromIndex(spark, root, queries, cb,
      "vec_id", "embedding", k = 3).collect().toSet
    StreamIndexCompaction.compactIndex(spark, root, keepRecent = 1,
      subPartitionBy = Seq("cell"))
    val served = AdsbStream.annServeFromIndex(spark, root, queries, cb,
      "vec_id", "embedding", k = 3)
    assert(served.collect().toSet == before, "serving changed after compaction")
    // the probed-cell partition prune must survive the new layout
    val planStr = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(planStr).isDefined,
      planStr.take(1200))
    // cell= dirs exist under the sentinel partition
    val segCells = new java.io.File(s"$root/batch_id=-1").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(segCells > 0, "segment lost the cell sub-partitioning")
  }

  test("J23: compaction is idempotent and converges from crash leftovers") {
    val root = tmp("graft_j23_crash")
    def rpt(hex: String, s: Long) = AdsbStream.RawReport(
      Some(hex), Some("c"), Some(50.0), Some(0.0), Some("1000"), Some(10.0),
      "local", new java.sql.Timestamp(1700000000000L + s * 1000))
    (0 until 5).foreach { b =>
      AdsbStream.mergeBatchIntoAggState(
        AdsbStream.normalize(Seq(rpt(s"AC$b", b.toLong)).toDF()), b.toLong,
        "scrape_time", "icao24", "ground_speed", root)
    }
    val truth = AdsbStream.readAggState(spark, root, "icao24").collect().toSet
    assert(StreamIndexCompaction.compactIndex(spark, root, keepRecent = 1,
      merge = StreamIndexCompaction.mergeAggState("icao24")).contains(3L))
    // second run: nothing eligible beyond the watermark — a noop
    assert(StreamIndexCompaction.compactIndex(spark, root, keepRecent = 1,
      merge = StreamIndexCompaction.mergeAggState("icao24")).isEmpty)
    assert(AdsbStream.readAggState(spark, root, "icao24").collect().toSet == truth)

    // crash surrogate: a folded batch dir resurfaces (swap completed
    // but the delete didn't) — rerun must DELETE it without refolding
    val ghost = s"$root/batch_id=2"
    Seq(("20231114", "zz9", 99L, java.math.BigDecimal.valueOf(9.99),
        new java.sql.Timestamp(0L), 9.9))
      .toDF("day", "icao24", "cnt_state", "sum_state", "min_ts_state", "max_state")
      .withColumn("sum_state", col("sum_state").cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(ghost)
    assert(StreamIndexCompaction.compactIndex(spark, root, keepRecent = 1,
      merge = StreamIndexCompaction.mergeAggState("icao24")).contains(3L))
    assert(!new java.io.File(ghost).exists(), "leftover dir not cleared")
    assert(AdsbStream.readAggState(spark, root, "icao24").collect().toSet == truth,
      "crash leftover was double-folded")

    // crash surrogate: segment renamed away, swap never finished —
    // recovery must restore it from the backup
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = new org.apache.hadoop.fs.Path(root, "batch_id=-1")
    val old = new org.apache.hadoop.fs.Path(root, ".old_compacted")
    assert(fs.rename(seg, old))
    StreamIndexCompaction.compactIndex(spark, root, keepRecent = 1,
      merge = StreamIndexCompaction.mergeAggState("icao24"))
    assert(AdsbStream.readAggState(spark, root, "icao24").collect().toSet == truth,
      "mid-swap crash lost the segment")
  }
}
