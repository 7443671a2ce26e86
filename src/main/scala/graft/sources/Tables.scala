package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test datasets,
  * served from a per-session source catalog.
  *
  * Scans are left fully declarative so Catalyst pushes filters and
  * prunes columns into the parquet reader (verify with
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`).
  *
  * The catalog keeps input resolution off the per-query path:
  * `spark.read.parquet` lists its input and starts one
  * schema-inference job on every call, the largest fixed cost of the
  * short dashboard queries. Its contract:
  *  - '''Fingerprint:''' each call lists `$dir/$name.parquet` once,
  *    recursing to its leaf data files (names starting with `_` or `.`
  *    are skipped, as Spark skips them). The [[Fingerprint]] is each
  *    leaf's path, length and modification time, plus the
  *    `spark.sql.legacy.parquet.nanosAsLong` setting the schema was
  *    inferred under.
  *  - '''Hit:''' when the fingerprint equals the entry's, the call
  *    returns the frame the entry resolved — the same object, with no
  *    new `spark.read`, no inference job and no new file index.
  *    [[events]] keeps its normalized frame in the same entry, so a hit
  *    skips its analysis too.
  *  - '''Miss:''' the path is resolved once and its entry replaced. A
  *    frame handed out before a rewrite keeps the listing it was
  *    resolved with; the next call sees the rewrite.
  *  - '''Scope:''' at most one entry per (session, path). Two sessions
  *    never share a frame, and an application's entries are dropped
  *    when it ends.
  *  - '''Concurrency:''' a miss resolves outside any lock. Racing
  *    resolvers of one fingerprint all return the first entry
  *    published; a different fingerprint replaces it.
  *
  * [[hits]] and [[resolutions]] count, JVM-wide, the calls served from
  * an entry and the calls that resolved.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One version of an input: (path, length, mtime) of each leaf data
    * file, sorted by path, and the nanosAsLong setting.
    */
  final case class Fingerprint(files: Seq[(String, Long, Long)], nanosAsLong: Boolean)

  private final class Entry(val fingerprint: Fingerprint, val frame: DataFrame) {
    lazy val events: DataFrame = normalizeEvents(frame)
  }

  private val entries = new ConcurrentHashMap[(SparkSession, String), Entry]()
  private val hitCount = new AtomicLong()
  private val resolutionCount = new AtomicLong()

  def hits: Long = hitCount.get
  def resolutions: Long = resolutionCount.get

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    entry(spark, dir, name).frame

  /** The current version of `$dir/$name.parquet`, from one listing. */
  def fingerprint(spark: SparkSession, dir: String, name: String): Fingerprint = {
    val root = new Path(s"$dir/$name.parquet")
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith("."))
          files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => }
    Fingerprint(files.result().sortBy(_._1), spark.conf.get(NanosAsLong, "false").toBoolean)
  }

  private def entry(spark: SparkSession, dir: String, name: String): Entry = {
    val path = s"$dir/$name.parquet"
    val key = (spark, path)
    val listed = fingerprint(spark, dir, name)
    val cur = entries.get(key)
    if (cur != null && cur.fingerprint == listed) {
      hitCount.incrementAndGet()
      cur
    } else {
      val fresh = resolve(spark, path, listed)
      graft.operators.TrackedCache.onApplicationEnd(spark, "catalog")(appId =>
        entries.keySet.removeIf(_._1.sparkContext.applicationId == appId))
      entries.merge(key, fresh, (old, neu) =>
        if (old.fingerprint == neu.fingerprint) old else neu)
    }
  }

  /** Resolves `path` as listed. An input that stores a
    * TIMESTAMP(NANOS) column, which Spark reads only as a nanos long,
    * first sets nanosAsLong for the session; no other input touches
    * it. A missing or empty input throws from `spark.read` and is not
    * kept.
    */
  private def resolve(spark: SparkSession, path: String, listed: Fingerprint): Entry = {
    resolutionCount.incrementAndGet()
    val fp =
      if (!listed.nanosAsLong && listed.files.headOption.exists(f => storesNanos(spark, f._1))) {
        spark.conf.set(NanosAsLong, "true")
        listed.copy(nanosAsLong = true)
      } else listed
    new Entry(fp, spark.read.parquet(path))
  }

  private def storesNanos(spark: SparkSession, file: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.exists(
      _.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
    finally reader.close()
  }

  /** `events.ts` arrives in one of two physical spellings depending on
    * the dataset generation: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read as a nanos long under
    * nanosAsLong, which the catalog sets for such an input, and
    * truncate to a microsecond timestamp, lossless on
    * whole-microsecond data), or a
    * plain TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ,
    * cast to the session-UTC timestamp, value-preserving). Branch on
    * the type actually read so both vintages of the driver data load
    * identically.
    *
    * Either way the normalized frame exposes the same two columns:
    * `ts` (microsecond timestamp) and `ts_ns` (epoch nanos long).
    * In the nanos spelling `ts_ns` IS the raw column, so range
    * predicates on it push into the parquet scan and prune row
    * groups; in the micros spelling the raw pushdown-friendly column
    * is `ts` and `ts_ns` is derived (a predicate on it evaluates
    * post-scan). At 100 TB that pushdown is the difference between
    * scanning a day and the archive, so time-range filters should go
    * through [[tsRange]], which targets whichever column is raw for
    * the data actually read.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    entry(spark, dir, "events").events

  private def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }

  /** Epoch nanos for a UTC instant — for pushdown-friendly `ts_ns`
    * range predicates.
    */
  def epochNanos(isoUtc: String): Long =
    java.time.Instant.parse(isoUtc).toEpochMilli * 1000000L

  /** Half-open time-range filter over a [[events]] frame, spelled on
    * BOTH `ts_ns` and `ts`: whichever column is physically raw for
    * the dataset in use pushes into the parquet scan and prunes row
    * groups (the bound literals constant-fold either way); the
    * redundant twin evaluates post-scan for free. Filtering only the
    * derived column would silently lose pushdown — at 100 TB that is
    * scanning the archive instead of a day.
    */
  def tsRange(df: DataFrame, fromIsoUtc: String, untilIsoUtc: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    val (lo, hi) = (epochNanos(fromIsoUtc), epochNanos(untilIsoUtc))
    df.filter(col("ts_ns") >= lo && col("ts_ns") < hi &&
      col("ts") >= timestamp_micros(lit(lo / 1000L)) &&
      col("ts") < timestamp_micros(lit(hi / 1000L)))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
