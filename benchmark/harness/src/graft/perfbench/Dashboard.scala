package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Closed loop, one client: every ADS-B registry entry, pass after pass
  * in a seed-permuted order. Pass 0 is the first execution of each
  * query in the session (cold). Then, untimed, every query's result is
  * written for the output check, which also leaves the JIT warm; the
  * warm passes that follow repeat until `seconds` have elapsed, at
  * least [[Dashboard.WarmPasses]].
  */
final class Dashboard(spark: SparkSession, a: Main.Args) extends Workload {
  import Dashboard._

  private val registry = SparkEntry.queries
  /** The cold pass's DataFrames, which the output check writes. */
  private val coldFrames = mutable.Map[String, org.apache.spark.sql.DataFrame]()

  def setUp(): Unit = {
    val missing = Queries.filterNot(registry.contains)
    require(missing.isEmpty, s"registry lacks ${missing.mkString(", ")}")
    registry(WarmUp)(spark, a.warmData).write.format("noop").mode("overwrite").save()
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(a.seed * 7919L + pass).shuffle(Queries)

  /** One pass over every query; a full GC first, as Bench does between
    * passes, so one pass's garbage is not collected inside the next.
    */
  private def runPass(rec: Recorder, pass: Int,
      execs: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    System.gc()
    rec.span("pass", s"pass$pass") {
      order(pass).foreach { name =>
        val q = rec.open("query", name)
        val err = Guard(spark, TimeoutS) {
          val df = rec.span("construct", name)(registry(name)(spark, a.data))
          rec.notePhases(df)
          if (pass == 0) coldFrames(name) = df
          rec.span("action", name)(df.write.format("noop").mode("overwrite").save())
        }
        rec.close(q)
        rec.noteStorage(q)
        execs += Map("pass" -> pass, "query" -> name, "wall_s" -> q.wallS,
          "ok" -> err.isEmpty, "error" -> err)
      }
    }
  }

  /** A traced run adds an untraced warm pass before and after the traced
    * one; the traced pass's wall minus theirs is the tracing overhead.
    */
  def measure(rec: Recorder): Map[String, Any] = {
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val cold = rec.open("run", "cold")
    runPass(rec, 0, execs)
    rec.close(cold)
    checked = writeOutputs()
    val untraced = mutable.ArrayBuffer[Double]()
    def untracedPass(pass: Int): Unit = if (rec.traced) {
      rec.pause()
      val t = Clock.nowMs
      runPass(new Recorder(spark, traced = false), pass, mutable.ArrayBuffer())
      untraced += (Clock.nowMs - t) / 1000.0
      rec.resume()
    }
    untracedPass(-1)
    val warm = rec.open("run", "warm")
    var pass = 1
    while (pass <= WarmPasses || Clock.nowMs - warm.start < a.seconds * 1000) {
      runPass(rec, pass, execs); pass += 1
    }
    rec.close(warm)
    val liveHeapMb = Main.liveHeapMb()
    untracedPass(-2)
    Map("executions" -> execs, "passes" -> pass, "live_heap_mb" -> liveHeapMb,
      "untraced_pass_s" -> untraced)
  }

  private var checked: Map[String, Any] = Map.empty

  def check(): Map[String, Any] = checked

  /** Writes the result of each query's cold-pass DataFrame once more,
    * outside the timed passes, for the DuckDB oracle the runner calls;
    * four at a time.
    */
  private def writeOutputs(): Map[String, Any] = {
    val out = s"${a.work}/outputs"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    val errs = try Await.result(Future.sequence(Queries.map { name =>
      Future(name -> Guard(spark, TimeoutS) {
        coldFrames.getOrElse(name, registry(name)(spark, a.data))
          .write.mode("overwrite").parquet(s"$out/$name")
      })
    }), scala.concurrent.duration.Duration(170, "s")) finally pool.shutdownNow()
    coldFrames.clear()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.value(oracle))
    Map("outputs" -> out, "write_errors" -> errs.collect { case (n, Some(e)) => n -> e }.toMap,
      "oracle_queries" -> oracle.keys.toSeq.sorted)
  }
}

object Dashboard {
  val TimeoutS = 60.0
  /** Two samples per query, so that a burst of host load during one
    * warm pass moves each query's median warm wall by half as much.
    */
  val WarmPasses = 2
  val WarmUp = "d19_dashboard_global_opensky"
  /** Every `AdsbQueries.defs` entry: ingest (a*), storage (b*),
    * current state (c*) and dashboards (d*).
    */
  val Queries: Seq[String] = Seq(
    "a1_json_ingest", "a2_sentinel_fill", "a3_alt_parse", "a4_string_norm",
    "a5_validity_filter", "a6_unit_convert", "a7_enum_decode", "a8_epoch_ts",
    "a9_array_clean", "a12_dead_reckoning", "b1_partition_day", "b3_ttl_retention",
    "b4_distributed_union", "c1_latest_state", "c2_latest_recent",
    "c3_combined_latest", "c4_argmax", "d1_moving_filter", "d2_time_series",
    "d3_nth_sample", "d3b_modulo_sample", "d4_nearest", "d5_time_bucket",
    "d6_topn_per_group", "d11_anomaly_zscore", "d12_grid_density",
    "d12b_grid_rollup", "d15_track_simplify", "d16_geofence", "d16b_geofence_many",
    "d17_cross_track", "d18_holding_pattern", "d19_dashboard_global_opensky",
    "d20_dashboard_global_stream", "d21_dashboard_regional",
    "d22_dashboard_local_nearest")
}
