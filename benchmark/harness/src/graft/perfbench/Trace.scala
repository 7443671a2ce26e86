package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base
  * as the timestamps Spark's listener events carry.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One interval the benchmark itself opened around a call into graft. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def wallS: Double = (end - start) / 1000.0
  def toJson: String = Json.value(mutable.LinkedHashMap[String, Any](
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start" -> start, "end" -> end) ++ attrs)
}

/** Spans opened on the driver thread, nested by call order. Spans are
  * always kept (the untraced metrics read their walls); Spark listeners
  * and per-span counters are attached only when `traced`, and only
  * between [[pause]] and [[resume]].
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val events: Option[SparkEvents] = if (traced) Some(new SparkEvents) else None
  private var listening = false
  resume()

  /** Stops listening until [[resume]]; what was recorded stays. */
  def pause(): Unit = events.filter(_ => listening).foreach { e =>
    e.drain()
    spark.sparkContext.removeSparkListener(e)
    spark.listenerManager.unregister(e)
    listening = false
  }

  def resume(): Unit = events.filterNot(_ => listening).foreach { e =>
    spark.sparkContext.addSparkListener(e)
    spark.listenerManager.register(e)
    listening = true
  }

  private def counters(): Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    "file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)

  def open(kind: String, name: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      kind, name, Clock.nowMs)
    spans += s
    stack = s :: stack
    if (listening) counters().foreach { case (k, v) => s.attrs(s"${k}_0") = v }
    s
  }

  def close(s: Span): Unit = {
    require(stack.headOption.contains(s), s"span ${s.kind}/${s.name} closed out of order")
    s.end = Clock.nowMs
    stack = stack.tail
    if (listening) counters().foreach { case (k, v) =>
      s.attrs.remove(s"${k}_0").foreach(v0 => s.attrs(k) = v - v0.asInstanceOf[Long])
    }
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = open(kind, name)
    try body finally close(s)
  }

  def current: Span = stack.head

  /** Catalyst phases of a DataFrame built outside any action: its
    * analysis runs while graft constructs it.
    */
  def notePhases(df: org.apache.spark.sql.DataFrame): Unit =
    if (listening) events.foreach(_.notePhases(df.queryExecution))

  /** Cached RDDs right now, noted on span `s`: what persists hold. */
  def noteStorage(s: Span): Unit = if (listening) {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    s.attrs("cache_rdds") = infos.length
    s.attrs("cache_bytes") = infos.map(i => i.memSize + i.diskSize).sum
  }

  def json: String = {
    val ev = events.map(_.json).getOrElse("{}")
    s"""{"spans":${spans.map(_.toJson).mkString("[", ",", "]")},"spark":$ev}"""
  }
}

/** Jobs, stages, task metrics and Catalyst phase times from Spark's
  * public listener interfaces. Everything is kept in memory until the
  * run ends.
  */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  private val seen = new AtomicLong()
  private val jobs = mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.LinkedHashMap[String, Any]]()
  private val phases = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()

  private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt),
    mutable.LinkedHashMap[String, Any]("stage" -> id, "attempt" -> attempt,
      "tasks" -> 0L, "task_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
      "overhead_ms" -> 0L, "in_bytes" -> 0L, "in_records" -> 0L,
      "out_bytes" -> 0L, "out_records" -> 0L, "sh_read_bytes" -> 0L,
      "sh_fetch_wait_ms" -> 0L, "sh_write_bytes" -> 0L, "spill_bytes" -> 0L,
      "failed_tasks" -> 0L))

  private def add(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m(k) = m(k).asInstanceOf[Long] + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seen.incrementAndGet()
    jobs(e.jobId) = mutable.LinkedHashMap[String, Any]("job" -> e.jobId,
      "start" -> e.time.toDouble, "end" -> Double.NaN, "stages" -> e.stageIds,
      "ok" -> false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    seen.incrementAndGet()
    jobs.get(e.jobId).foreach { j =>
      j("end") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    seen.incrementAndGet()
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s("start") = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    s("end") = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    s("num_tasks") = i.numTasks
    s("ok") = i.failureReason.isEmpty
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    seen.incrementAndGet()
    val s = stage(e.stageId, e.stageAttemptId)
    add(s, "tasks", 1)
    if (!e.taskInfo.successful) add(s, "failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(s, "task_ms", m.executorRunTime)
      add(s, "cpu_ns", m.executorCpuTime)
      add(s, "gc_ms", m.jvmGCTime)
      val fetch = if (e.taskInfo.gettingResultTime > 0)
        e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L
      add(s, "overhead_ms", m.executorDeserializeTime + m.resultSerializationTime + fetch)
      add(s, "in_bytes", m.inputMetrics.bytesRead)
      add(s, "in_records", m.inputMetrics.recordsRead)
      add(s, "out_bytes", m.outputMetrics.bytesWritten)
      add(s, "out_records", m.outputMetrics.recordsWritten)
      add(s, "sh_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(s, "sh_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add(s, "sh_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(s, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Per planning tracker: when its phases were last recorded, and the
    * end of each phase then.
    */
  private val recorded =
    new java.util.WeakHashMap[QueryPlanningTracker, (Double, Map[String, Long])]()

  /** Records the phases of `qe`'s tracker. A DataFrameWriter's command
    * shares the written DataFrame's tracker, and the tracker merges a
    * repeated phase into [first start, last end]; so a phase already
    * recorded for this tracker is recorded again only from the later of
    * its previous end and the previous record's time: the analysis of
    * the write command, not the gap since the DataFrame's own analysis.
    */
  def notePhases(qe: QueryExecution): Unit = synchronized {
    seen.incrementAndGet()
    val tracker = qe.tracker
    val before = Option(recorded.get(tracker))
    val now = tracker.phases
    now.foreach { case (name, p) =>
      val start = before.flatMap { case (at, ends) => ends.get(name).map(e => math.max(e.toDouble, at)) }
        .getOrElse(p.startTimeMs.toDouble)
      if (p.endTimeMs > start)
        phases += mutable.LinkedHashMap[String, Any]("phase" -> name,
          "start" -> start, "end" -> p.endTimeMs.toDouble)
    }
    recorded.put(tracker, (Clock.nowMs, now.map { case (n, p) => n -> p.endTimeMs }))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    notePhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    notePhases(qe)

  /** Waits until both listener queues have been quiet for 300 ms and
    * every started job has ended (at most 20 s).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L
    while (System.nanoTime() < deadline && {
      val now = seen.get()
      val open = synchronized(jobs.values.exists(_("end").asInstanceOf[Double].isNaN))
      val busy = now != last || open
      last = now
      busy
    }) Thread.sleep(300)
  }

  def json: String = synchronized {
    s"""{"jobs":${Json.value(jobs.values)},"stages":${Json.value(stages.values)},""" +
      s""""phases":${Json.value(phases)}}"""
  }
}
