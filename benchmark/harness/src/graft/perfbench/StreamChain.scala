package graft.perfbench

import scala.collection.mutable

import graft.functions.HashFunctions
import graft.operators.TrackedCache
import graft.queries.PipelineQueries
import graft.streaming.AdsbStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Open loop over the composed streaming chain
  * J17 → J13 → J18 → J12 → J14 → J11, with the J26 group labeler beside
  * J11: the same AdsbStream calls and designed input slices as the
  * repository's StreamChainBench, `Rows` rows per batch.
  *
  * Batch k's events are stamped uniformly over the interval that ends
  * at its due time k·T (batch 0 is due when the window opens). It
  * starts at max(due, previous batch done); a stall therefore delays
  * every later batch. Batches are due until `seconds` have passed since
  * the window opened, at least two: batch 0 runs cold, later ones warm.
  *
  * Seed 0 reproduces StreamChainBench's inputs exactly; any other seed
  * salts every token and permutes which documents fall into which
  * designed slice.
  */
final class StreamChain(spark: SparkSession, a: Main.Args) extends Workload {
  import StreamChain._
  import spark.implicits._

  private val root = s"${a.work}/stores"
  private def store(n: String) = s"$root/$n"
  private val Seq(idx17, surv17, idx14, surv14, idx11, surv11, j26) =
    Seq("idx17", "surv17", "idx14", "surv14", "idx11", "surv11", "j26").map(store)

  private val salt = if (a.seed == 0) "" else alpha(a.seed) + "z"
  private val banned = (0 until 5000).map(j => s"banned$salt${alpha(j)}")
  private lazy val blacklist = banned.toDF("tok")
    .select(HashFunctions.md5prefix64(col("tok")).as("fp"))
  private val footers = Seq("alpha", "beta", "gamma")
    .map(v => s"site footer $v$salt rights reserved")
  private val nBan = Rows / 100
  private val nSub = Rows / 10
  private val nNear = Rows / 20

  private def base(b: Int, i: Int): String =
    (0 until 18).map(w => s"w$salt${alpha(b)}q${alpha(i)}q${alpha(w)}").mkString(" ")

  /** Slot of document i in batch b: which designed slice it falls in. */
  private def slots(b: Int): IndexedSeq[Int] =
    if (a.seed == 0) 0 until Rows
    else new scala.util.Random(a.seed * 104729L + b).shuffle((0 until Rows).toIndexedSeq)

  private def mkBatch(b: Int, prev: IndexedSeq[String]): DataFrame = {
    val slot = slots(b)
    (0 until Rows).map { i =>
      val s = slot(i)
      val text =
        if (s < nBan) banned(s % banned.size) + " " + base(b, i).split(" ").drop(1).mkString(" ")
        else if (b > 0 && s < nBan + nSub) {
          val core = prev((s - nBan) % prev.size).split(" ")
          ((0 until 3).map(w => s"p$salt${alpha(b)}q${alpha(i)}q${alpha(w)}") ++
            core.take(15)).mkString(" ")
        } else if (b > 0 && s < nBan + nSub + nNear) {
          val src = prev((nSub + (s - nBan - nSub)) % prev.size).split(" ").toBuffer
          src(9) = s"n$salt${alpha(b)}q${alpha(i)}qx"
          src.mkString(" ")
        } else base(b, i)
      (b.toLong * Rows + i, text + "\n" + footers(i % footers.size))
    }.toDF("doc_id", "text")
  }

  /** Session warm-up and empty store root. */
  def setUp(): Unit = {
    new java.io.File(root).mkdirs()
    val probe = (0 until 100).map(i => (i.toLong, base(0, i))).toDF("doc_id", "text")
    AdsbStream.qualityGateStream(probe, "doc_id", "text",
      PipelineQueries.classifierWeights).write.format("noop")
      .mode("overwrite").save()
  }

  private def stage[T](rec: Recorder, name: String)(body: => T): T =
    rec.span("stage_call", name)(body)

  /** One batch through every stage; returns the stage survivor counts
    * (in, after J17, J13, J18, J12, J14). Building each stage's lazy
    * output frame is a `construct` span, its materializing count is not.
    */
  private def runBatch(rec: Recorder, b: Int, batch: DataFrame): Seq[Long] = {
    val c17 = stage(rec, "j17") {
      AdsbStream.paragraphScreenBatch(batch, b, "doc_id", "text", idx17, surv17)
      val s17 = rec.span("construct", "j17")(TrackedCache.persist(spark.read.parquet(surv17)
        .filter(col("batch_id") === b)
        .select(col("doc_id"), col("text_kept").as("text"))))
      (s17, s17.count())
    }
    val c13 = stage(rec, "j13") {
      val g = rec.span("construct", "j13")(TrackedCache.persist(
        AdsbStream.qualityGateStream(c17._1, "doc_id", "text",
          PipelineQueries.classifierWeights).select("doc_id", "text")))
      (g, g.count())
    }
    val c18 = stage(rec, "j18") {
      val m = rec.span("construct", "j18")(TrackedCache.persist(AdsbStream.mixingGateStream(
          c13._1.withColumn("src",
            concat(lit("src"), pmod(col("doc_id"), lit(3)).cast("string"))),
          "doc_id", "src",
          Seq("src0" -> 1000000L, "src1" -> 700000L, "src2" -> 400000L))
        .drop("src")))
      (m, m.count())
    }
    val c12 = stage(rec, "j12") {
      val c = rec.span("construct", "j12") {
        val keyed = c18._1.withColumn("fp",
          HashFunctions.md5prefix64(split(col("text"), " ").getItem(0)))
        TrackedCache.persist(AdsbStream.bloomScreenStream(keyed, "fp", blacklist, "fp").drop("fp"))
      }
      (c, c.count())
    }
    val c14 = stage(rec, "j14") {
      AdsbStream.substringScreenBatch(c12._1, b, "doc_id", "text", 10, idx14, surv14)
      val s14 = rec.span("construct", "j14")(TrackedCache.persist(spark.read.parquet(surv14)
        .filter(col("batch_id") === b).select("doc_id", "text")))
      (s14, s14.count())
    }
    stage(rec, "j11") {
      AdsbStream.screenAndIndexBatch(c14._1, b, "doc_id", "text", 3, idx11, surv11)
    }
    stage(rec, "j26") {
      AdsbStream.labelBatchIntoGroupState(c14._1, b, "doc_id", "text", 3, j26)
    }
    if (rec.traced) rec.noteStorage(rec.current)
    Seq(c17, c13, c18, c12, c14).foreach(c => TrackedCache.untrack(c._1))
    Seq(Rows.toLong, c17._2, c13._2, c18._2, c12._2, c14._2)
  }

  /** Bodies of batch b's published J11 survivors: the re-crawl source
    * the next batch's dup slices copy from.
    */
  private def survivorsOf(b: Int): IndexedSeq[String] =
    spark.read.parquet(surv11).filter(col("batch_id") === b)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(_.getString(1).split("\n")(0)).toIndexedSeq

  private def storeStats(): Map[String, Any] = {
    val files = mutable.Map[String, Long]().withDefaultValue(0L)
    val bytes = mutable.Map[String, Long]().withDefaultValue(0L)
    def walk(f: java.io.File, top: String): Unit =
      Option(f.listFiles).getOrElse(Array.empty).foreach { c =>
        if (c.isDirectory) walk(c, top)
        else if (!c.getName.startsWith(".") && !c.getName.startsWith("_")) {
          files(top) += 1; bytes(top) += c.length
        }
      }
    Option(new java.io.File(root).listFiles).getOrElse(Array.empty)
      .foreach(d => walk(d, d.getName))
    Map("files" -> files.values.sum, "bytes" -> bytes.values.sum,
      "per_store_files" -> files.toMap)
  }

  /** Batch b's input, cached: made from batch b-1's published survivors. */
  private def nextInput(b: Int): DataFrame = {
    val df = mkBatch(b, survivorsOf(b - 1)).cache()
    df.count()
    df
  }

  def measure(rec: Recorder): Map[String, Any] = {
    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    var input = mkBatch(0, IndexedSeq.empty).cache()
    input.count()
    val run = rec.open("run", "stream_chain")
    val t0 = Clock.nowMs
    var b = 0
    var failed = false
    val intervalMs = IntervalS * 1000
    val count = math.max(2, 1 + math.ceil(a.seconds / IntervalS).toInt)
    while (!failed && b < count) {
      val due = t0 + b * intervalMs
      val wait = due - Clock.nowMs
      if (wait > 0) rec.span("wait", s"batch$b")(Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt))
      val s = rec.open("batch", s"batch$b")
      var counts: Seq[Long] = Nil
      val err = Guard(spark, TimeoutS) { counts = runBatch(rec, b, input) }
      rec.close(s)
      batches += Map("batch" -> b, "due" -> due, "start" -> s.start, "done" -> s.end,
        "service_s" -> s.wallS, "ok" -> err.isEmpty, "error" -> err, "counts" -> counts,
        "store" -> storeStats())
      input.unpersist()
      b += 1
      failed = err.isDefined
      if (!failed && b < count) input = rec.span("generate", s"batch$b")(nextInput(b))
    }
    rec.close(run)
    val liveHeapMb = Main.liveHeapMb()
    val extra = if (!rec.traced || failed) Map.empty[String, Any] else {
      // one more batch with the listeners detached: its service time
      // against the traced batches' is the tracing overhead
      rec.pause()
      val in = nextInput(b)
      val t = Clock.nowMs
      val err = Guard(spark, TimeoutS)(runBatch(new Recorder(spark, traced = false), b, in))
      in.unpersist()
      Map("untraced_batch_s" -> (Clock.nowMs - t) / 1000.0, "untraced_ok" -> err.isEmpty,
        "extra_batches" -> 1)
    }
    Map("batches" -> batches, "rows_per_batch" -> Rows, "interval_s" -> IntervalS,
      "live_heap_mb" -> liveHeapMb) ++ extra
  }

  /** The chain once more in a fresh single-core session: the
    * single-threaded baseline of the traced run.
    */
  override def baseline(): Map[String, Any] =
    Map("local1_service_s" -> StreamChain.singleCore(a))

  /** Counts and invariants read from the stores after the window. */
  def check(): Map[String, Any] = {
    val perBatch = (p: String, f: DataFrame => DataFrame) =>
      f(spark.read.parquet(p)).groupBy("batch_id").count().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val afterBand = perBatch(surv11, identity)
    val footersKept = perBatch(surv17, _.filter(col("text_kept").contains("site footer")))
    val allSeen = spark.read.parquet(surv14)
      .select(col("doc_id"), length(col("text")).cast("long").as("quality"))
    val canon = TrackedCache.persist(
      AdsbStream.canonicalFromLabels(spark, j26, allSeen, "doc_id", "quality"))
    val canonCount = canon.count()
    val finalSurvivors = spark.read.parquet(surv11).count()
    val labels = TrackedCache.persist(AdsbStream.readNearDupLabels(spark, j26, "doc_id"))
    val paired = labels.count()
    val groups = labels.select("label").distinct().count()
    val allDocs = allSeen.count()
    val survivorIds = spark.read.parquet(surv11).select(col("doc_id"))
    val canonBetter = canon.join(survivorIds,
      canon("keep_id") === survivorIds("doc_id"), "left_anti").count()
    val out = Map[String, Any](
      "after_band" -> afterBand.map { case (k, v) => k.toString -> v },
      "footers_kept" -> footersKept.map { case (k, v) => k.toString -> v },
      "idx17_rows" -> spark.read.parquet(idx17).count(),
      "idx14_rows" -> spark.read.parquet(idx14).count(),
      "idx11_rows" -> spark.read.parquet(idx11).count(),
      "label_rows" -> spark.read.parquet(s"$j26/labels").count(),
      "canonicals" -> canonCount, "final_survivors" -> finalSurvivors,
      "paired" -> paired, "groups" -> groups, "all_docs" -> allDocs,
      "canon_better" -> canonBetter)
    TrackedCache.untrack(canon); TrackedCache.untrack(labels)
    out
  }
}

object StreamChain {
  val Rows = 50000
  val IntervalS = 30.0
  val TimeoutS = 60.0

  /** Letter-only ids: CCNet's digits→0 normalization in J17 would fold
    * digit ids together.
    */
  def alpha(n: Long): String = {
    var x = n; val sb = new StringBuilder
    do { sb.append(('a' + (x % 26).toInt).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  /** Batch 0 of the same chain in a fresh local[1] session (same JVM):
    * its service time.
    */
  def singleCore(a: Main.Args): Double = {
    SparkSession.active.stop()
    val work = s"${a.work}/local1"
    val spark = Main.session(1, work)
    val chain = new StreamChain(spark, a.copy(work = work))
    chain.setUp()
    val in = chain.mkBatch(0, IndexedSeq.empty).cache()
    in.count()
    val t = Clock.nowMs
    chain.runBatch(new Recorder(spark, traced = false), 0, in)
    val s = (Clock.nowMs - t) / 1000.0
    spark.stop()
    s
  }
}
