package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Current-state / storage-layout semantics of the reference:
  *
  * - ReplacingMergeTree + FINAL + `LIMIT 1 BY key` → [[latestBy]]
  *   (/root/reference/schema/schema-local.sql:370-372,455-460)
  * - recency-window filter before dedup (the reference's MVs only
  *   feed rows newer than 2h into the replacing table,
  *   schema-local.sql:446) → [[recentOnly]]
  * - Distributed-table shard/source union → [[distributedUnion]]
  * - `PARTITION BY toYYYYMMDD(ts)` day layout → [[withDayPartition]] /
  *   [[writePartitionedByDay]] (schema-local.sql:184)
  * - TTL retention (schema-local.sql:186) → [[applyTtl]]
  * - Grafana decimation `rowNumberInAllBlocks() % n = 0`
  *   (dashboards/examples/Current_Positions_Regional.json) →
  *   [[nthSample]] (exact) / [[moduloSample]] (shuffle-free scale path)
  *
  * Scale notes: latestBy is one hash shuffle on the key + per-partition
  * sort (window), never a global sort; recentOnly is applied *before*
  * the shuffle so at 100 TB only the live window of data moves.
  */
object CurrentState {

  /** Latest row per key by (orderCol, tieBreak) — ReplacingMergeTree
    * FINAL + `ORDER BY key, ts DESC LIMIT 1 BY key` semantics.
    */
  def latestBy(df: DataFrame, keys: Seq[String], orderCol: String,
               tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep only rows within `interval` of the dataset's max(orderCol).
    * The scalar max is computed once and broadcast (no second scan of
    * a shuffled side, no collect).
    */
  def recentOnly(df: DataFrame, orderCol: String, interval: String): DataFrame = {
    val mx = df.agg(max(col(orderCol)).as("__max_ts"))
    df.crossJoin(broadcast(mx))
      .filter(col(orderCol) >= col("__max_ts") - expr(s"INTERVAL $interval"))
      .drop("__max_ts")
  }

  /** TTL: drop rows older than `interval` before max(orderCol). */
  def applyTtl(df: DataFrame, orderCol: String, interval: String): DataFrame =
    recentOnly(df, orderCol, interval)

  /** Distributed-table semantics: union of per-shard/per-source frames
    * by column name (missing columns are an error — shards share one
    * schema, like `AS positions_local` in the reference).
    */
  def distributedUnion(shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_ unionByName _)

  /** toYYYYMMDD partition column. */
  def withDayPartition(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("day", date_format(col(tsCol), "yyyyMMdd"))

  /** Day-partitioned, key-clustered parquet layout — the MergeTree
    * `PARTITION BY toYYYYMMDD(ts) ORDER BY (key, ts)` equivalent.
    * Readers then prune partitions on day and benefit from key
    * locality within files.
    *
    * RANGE partitioning on (day, key), not hash: with a hash layout
    * every task holds rows of ~every day, so an N-task write sprays
    * N files into each day directory (the small-files problem at the
    * source); ranges keep each task's rows contiguous in (day, key),
    * so a task writes into at most a couple of day directories and a
    * day's files cover disjoint key ranges — the MergeTree part
    * layout — while the write still spreads over the full cluster.
    */
  def writePartitionedByDay(df: DataFrame, tsCol: String, keyCol: String,
                            path: String): Unit =
    withDayPartition(df, tsCol)
      .repartitionByRange(col("day"), col(keyCol))
      .sortWithinPartitions(col("day"), col(keyCol), col(tsCol))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Storage-lifecycle TTL — the physical-delete half of MergeTree's
    * `TTL scrape_time + INTERVAL 1 YEAR` (schema-local.sql:186), which
    * [[applyTtl]]'s query-time filter only emulates. Drops every
    * `day=<yyyyMMdd>` partition of a [[writePartitionedByDay]] layout
    * strictly older than `cutoffDay`, directory-at-a-time through the
    * Hadoop FS API (works on HDFS/S3A the same as local files; no data
    * is read, so cost is O(#partitions) namenode ops, not O(data)).
    * Returns the dropped day values.
    */
  def dropExpiredDayPartitions(spark: org.apache.spark.sql.SparkSession,
                               path: String, cutoffDay: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { d =>
        d.getName match {
          case s if s.startsWith("day=") && s.drop(4) < cutoffDay =>
            fs.delete(d, true); Some(s.drop(4))
          case _ => None
        }
      }.sorted
  }

  /** Batch upsert into a [[writePartitionedByDay]] layout — the
    * ReplacingMergeTree merge path for late or corrected data:
    * rows in `updates` replace same-(key, orderCol-tie) rows. Only
    * the day partitions the updates TOUCH are rewritten (read day +
    * union + [[latestBy]] + staged write + rename swap); untouched
    * days are never read. Cost is O(data in affected days), not
    * O(table) — at 100 TB a late-data batch touching yesterday
    * rewrites one partition, like a MergeTree part merge.
    * `versionCol` breaks ties (latest wins); `tieBreak` makes the
    * winner deterministic under equal versions. Returns the
    * rewritten day values.
    */
  /** Checked rename: Hadoop's FileSystem.rename reports failure by
    * returning false (and on RawLocalFileSystem a rename onto an
    * existing directory moves the source INSIDE it) — ignoring the
    * result turns a crashed prior run's leftovers into a silently
    * dropped merge. Any false here aborts the day's swap.
    */
  private def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                            src: org.apache.hadoop.fs.Path,
                            dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  def mergeIntoDayLayout(spark: org.apache.spark.sql.SparkSession,
                         path: String, updates: DataFrame, tsCol: String,
                         keys: Seq[String], versionCol: String,
                         tieBreak: String): Seq[String] = {
    val upWithDay = withDayPartition(updates, tsCol)
    // partition METADATA (bounded by #days touched), not data rows —
    // the driver needs the partition list to orchestrate the swaps
    val days = upWithDay.select(col("day")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    days.foreach { day =>
      val dayDir = new org.apache.hadoop.fs.Path(root, s"day=$day")
      val dayUpdates = upWithDay.filter(col("day") === day).drop("day")
      val merged =
        if (fs.exists(dayDir))
          latestBy(spark.read.parquet(dayDir.toString).unionByName(dayUpdates),
            keys, versionCol, tieBreak)
        else dayUpdates
      val staged = new org.apache.hadoop.fs.Path(root, s".merge_day=$day")
      val old = new org.apache.hadoop.fs.Path(root, s".old_day=$day")
      // a crashed prior run may have left staging/backup dirs; clear
      // them first or the renames below would nest or fail
      fs.delete(staged, true); fs.delete(old, true)
      merged
        .repartitionByRange(keys.map(col): _*)
        .sortWithinPartitions((keys.map(col) :+ col(tsCol)): _*)
        .write.mode("overwrite").parquet(staged.toString)
      if (fs.exists(dayDir)) renameOrThrow(fs, dayDir, old)
      renameOrThrow(fs, staged, dayDir)
      fs.delete(old, true)
    }
    days
  }

  /** The MergeTree background-merge analog: rewrite each `day=`
    * partition of a [[writePartitionedByDay]] layout into (at most)
    * `filesPerDay` files, re-sorted by (key, ts). Streaming
    * microbatches (AdsbStream.startPartitionedSink) append one file
    * set per batch, so a day accumulates many small files — exactly
    * the small-parts problem MergeTree's merges solve; run this as a
    * periodic job over closed (past) days. Atomicity: each day is
    * rewritten to a staging dir then swapped in with two renames, so
    * readers never observe a half-written day.
    */
  def compactDayPartitions(spark: org.apache.spark.sql.SparkSession,
                           path: String, keyCol: String, tsCol: String,
                           filesPerDay: Int = 1,
                           onlyDaysBefore: Option[String] = None): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val days = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath)
      .filter(p => onlyDaysBefore.forall(cut => p.getName.drop(4) < cut))
      .sortBy(_.getName)
    days.flatMap { dayDir =>
      val nFiles = fs.listStatus(dayDir)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (nFiles <= filesPerDay) None
      else {
        val staged = new org.apache.hadoop.fs.Path(
          dayDir.getParent, s".compact_${dayDir.getName}")
        val old = new org.apache.hadoop.fs.Path(
          dayDir.getParent, s".old_${dayDir.getName}")
        // clear leftovers of a crashed prior compaction before swapping
        fs.delete(staged, true); fs.delete(old, true)
        spark.read.parquet(dayDir.toString)
          .repartition(filesPerDay, col(keyCol))
          .sortWithinPartitions(col(keyCol), col(tsCol))
          .write.mode("overwrite").parquet(staged.toString)
        renameOrThrow(fs, dayDir, old)
        renameOrThrow(fs, staged, dayDir)
        fs.delete(old, true)
        Some(dayDir.getName.drop(4))
      }
    }
  }

  /** Exact every-nth-row decimation in a total order. Needs a global
    * row_number (single-partition window) — oracle/parity path only.
    */
  def nthSample(df: DataFrame, n: Int, orderCols: Seq[Column]): DataFrame = {
    val w = Window.orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") % n === 0)
  }

  /** Shuffle-free decimation on a unique id column — the 100 TB path
    * (the reference's rowNumberInAllBlocks() % n is equally
    * order-arbitrary; only the sampling rate matters to the dashboard).
    */
  def moduloSample(df: DataFrame, n: Int, idCol: String): DataFrame =
    df.filter(col(idCol) % n === 0)
}
