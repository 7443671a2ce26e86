package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: every entry point (Bench, Verify,
  * StreamChainBench, Demo) and the spec base build their session here,
  * so the conf a deployment wants is set in one place:
  *
  * - AQE on with skew-join splitting (hot aircraft / hot documents
  *   get their shuffle partitions split at runtime; ScaleOps salting
  *   remains for aggregations, which AQE does not rebalance),
  * - post-shuffle partition coalescing (small stages don't pay the
  *   static shuffle-partition count),
  * - UTC session timezone (the reference stores UTC; local-tz
  *   day-partitioning would split days differently per cluster),
  * - graft's SQL functions (GraftExtensions).
  *
  * A local session pins `spark.sql.shuffle.partitions` to its core
  * count; a cluster sets it to 2-3× total cores, and with AQE
  * coalescing the exact value matters much less.
  */
object GraftSession {

  /** Local parallelism of the entry points: `SPARK_GRAFT_CPUS`, else 4. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Local session at the given parallelism, logging at WARN. */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
