package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up one Spark session the way the
  * repository's Bench and Verify mains do, runs one workload, and
  * writes its raw samples (walls, spans, listener records, check
  * outputs) as one JSON file. The Python runner turns that file into
  * metrics.
  *
  * Usage: graft.perfbench.Main --workload W --cores N
  *   --seed S --seconds T --trace 0|1 --data DIR --warm-data DIR
  *   --work DIR --out FILE --launch-ms EPOCH_MS
  */
object Main {

  final case class Args(workload: String, cores: Int, seed: Long,
      seconds: Double, trace: Boolean, data: String, warmData: String,
      work: String, out: String, launchMs: Double)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("cores").toInt, m("seed").toLong,
      m("seconds").toDouble, m.getOrElse("trace", "0") == "1", m.getOrElse("data", ""),
      m.getOrElse("warm-data", ""), m("work"), m("out"), m("launch-ms").toDouble)
  }

  /** local[n], shuffle partitions = n, UTC, UI off; scratch and
    * warehouse directories inside the work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Heap in use after a full GC, in MB: what the program retains
    * (caches, memos, indexes) rather than when GC ran. The second GC,
    * a second later, collects what Spark's ContextCleaner released
    * (broadcasts, shuffles, unpersisted blocks) once the first GC
    * dropped their owners.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def provenance(spark: SparkSession, a: Args): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "java_vm" -> System.getProperty("java.vm.name"),
    "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).toSeq,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "available_processors" -> Runtime.getRuntime.availableProcessors,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val spark = session(a.cores, a.work)
    val par = spark.sparkContext.defaultParallelism
    if (par != a.cores) {
      System.err.println(s"[graftbench] refusing to run: Spark parallelism $par != nproc ${a.cores}")
      spark.stop()
      sys.exit(3)
    }
    val workload: Workload = a.workload match {
      case "adsb_dashboard" => new Dashboard(spark, a)
      case "stream_chain" => new StreamChain(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    workload.setUp()
    val setupS = (Clock.nowMs - a.launchMs) / 1000.0
    val prov = provenance(spark, a)
    val gc0 = gcMs()
    val rec = new Recorder(spark, a.trace)
    val result = workload.measure(rec)
    val measured = result ++ Map("driver_gc_s" -> (gcMs() - gc0) / 1000.0,
      "peak_rss_mb" -> peakRssMb())
    rec.pause()
    val body = measured ++ Map("checks" -> workload.check()) ++
      (if (a.trace) Map("trace" -> Raw(rec.json)) ++ workload.baseline() else Map.empty)
    val doc = Map[String, Any]("workload" -> a.workload,
      "seed" -> a.seed, "cores" -> a.cores, "setup_s" -> setupS,
      "provenance" -> prov) ++ body
    Files.writeString(Paths.get(a.out), Json.value(doc))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** Already-serialized JSON, spliced in verbatim. */
final case class Raw(json: String)

/** One benchmark workload: set-up work is charged to `setup_s`,
  * `measure` is the timed window, `check` runs after it.
  */
trait Workload {
  def setUp(): Unit
  def measure(rec: Recorder): Map[String, Any]
  def check(): Map[String, Any]
  /** Traced runs only, after the checks; may replace the session. */
  def baseline(): Map[String, Any] = Map.empty
}

/** Runs `body` as one operation under a job group that a watchdog
  * cancels after `timeoutS`; any throwable or the timeout makes the
  * operation failed.
  */
object Guard {
  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }
  private val n = new java.util.concurrent.atomic.AtomicLong()

  def apply(spark: SparkSession, timeoutS: Double)(body: => Unit): Option[String] = {
    val group = s"graftbench-${n.incrementAndGet()}"
    val sc = spark.sparkContext
    @volatile var timedOut = false
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val task = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelJobGroup(group) }
    }, (timeoutS * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
      body
      if (timedOut) Some(s"timed out after $timeoutS s") else None
    } catch {
      case t: Throwable =>
        Some(if (timedOut) s"timed out after $timeoutS s"
          else s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}")
    } finally {
      task.cancel(false)
      sc.clearJobGroup()
    }
  }
}
