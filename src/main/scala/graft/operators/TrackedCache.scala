package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-tracked persistence for frames that fan out to several
  * consumers inside one logical query (shingle sets, token explodes,
  * bucket series). Without a persist, every consumer re-executes the
  * shared subplan from the raw scan — the round-1 f2 defect class
  * (measured: 5 corpus scans for one query). Spark's CacheManager
  * keys entries on the canonicalized plan, so identical frames built
  * by different queries (e.g. the token explode shared by h7/h8/p7)
  * resolve to ONE materialization.
  *
  * Every persist registers per session so [[release]] can free the
  * block store between corpora in a long-lived session (round-2
  * ADVICE: unreleased caches accumulate until shutdown). In-flight
  * queries over released frames recompute rather than fail.
  *
  * [[memo]] is the session memo for the artifacts the CacheManager
  * cannot share: results of driver loops over localCheckpoint or
  * collected rows (fresh RDDs on every run), and frames whose typed
  * closures make every rebuilt plan unequal. Its contract:
  *  - '''Key:''' (applicationId, `key`). Each caller's key starts with
  *    a site name and carries the version of every input it reads:
  *    dir-keyed sites add the `Tables` catalog fingerprint of their
  *    tables, plan-keyed sites add [[planKey]] of their input plus
  *    their parameters. A rewritten input therefore gets a new key, and
  *    the memo never serves a result computed from its old files.
  *  - '''Epoch:''' [[release]] drops the application's entries before
  *    it unpersists, and one `onApplicationEnd` listener per
  *    application drops them when the application ends.
  *  - '''Bound:''' at most [[MemoBound]] entries per application, first
  *    in first out. An evicted entry goes through [[untrack]]; its
  *    next call recomputes.
  *  - '''Compute outside the map:''' `build` runs with no lock held, so
  *    it may run Spark jobs and call [[memo]] for other keys. Its
  *    result is published with putIfAbsent; two racing callers may
  *    both build, and both get the first frame published.
  *
  * [[memoHits]] and [[memoMisses]] count memo calls JVM-wide.
  */
object TrackedCache {

  private val persisted =
    new java.util.concurrent.ConcurrentHashMap[
      SparkSession, java.util.Queue[DataFrame]]()

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted
      .computeIfAbsent(df.sparkSession,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())
      .add(p)
    p
  }

  /** Unpersist `df` AND drop it from the session's tracked queue —
    * for owners that retire a frame mid-epoch (a memo eviction): a
    * plain unpersist would leave the frame object (and the plan +
    * checkpoint RDD references inside it) strongly held by the queue
    * until the next [[release]].
    */
  def untrack(df: DataFrame): Unit = {
    df.unpersist()
    val q = persisted.get(df.sparkSession)
    if (q != null) q.remove(df)
  }

  /** Drop the application's memo entries, then unpersist every
    * tracked frame for `spark`. Duplicate registrations unpersist
    * harmlessly.
    */
  def release(spark: SparkSession): Unit = {
    dropMemos(spark.sparkContext.applicationId)
    val q = persisted.remove(spark)
    if (q != null) q.forEach(_.unpersist())
  }

  /** Memo entries per application. Entries hold plans and checkpoint
    * RDD references, so a session sweeping a parameter grid must not
    * accumulate them; one full query-registry pass creates 9 keys,
    * and an eviction costs only a recompute.
    */
  val MemoBound = 16

  /** Insertion-ordered for the FIFO bound; guarded by its own monitor. */
  private val memos = new java.util.LinkedHashMap[(String, Product), DataFrame]()

  private val hitCount = new java.util.concurrent.atomic.AtomicLong()
  private val missCount = new java.util.concurrent.atomic.AtomicLong()

  def memoHits: Long = hitCount.get
  def memoMisses: Long = missCount.get

  /** The input part of a plan-keyed memo key: the canonicalized
    * analyzed plan of `df`, and (path, length, mtime) of every file its
    * file relations list. Canonicalized plans compare file relations by
    * root path only, so without the versions a rewritten input would
    * match its old plan.
    */
  def planKey(df: DataFrame): Product = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    val plan = df.queryExecution.analyzed
    val files = plan.collectWithSubqueries { case r: LogicalRelation => r.relation }.flatMap {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Nil
    }
    (plan.canonicalized, files)
  }

  /** The session's frame for `key`, built by `build` on a miss (see
    * the contract above).
    */
  def memo(spark: SparkSession, key: Product)(build: => DataFrame): DataFrame = {
    val appId = onApplicationEnd(spark, "memo")(dropMemos)
    val k = (appId, key)
    val hit = memos.synchronized(memos.get(k))
    if (hit != null) { hitCount.incrementAndGet(); hit }
    else {
      missCount.incrementAndGet()
      val fresh = build
      val (won, evicted) = memos.synchronized {
        val raced = memos.putIfAbsent(k, fresh)
        if (raced != null) (raced, Nil)
        else {
          val own = memos.keySet.toArray(Array.empty[(String, Product)])
            .filter(_._1 == appId)
          (fresh, own.take(own.length - MemoBound).map(memos.remove).toList)
        }
      }
      evicted.foreach(untrack)
      won
    }
  }

  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Runs `drop(applicationId)` when the application of `spark` ends,
    * installing one listener per (`owner`, application); returns the
    * application id. Session-scoped state (the memo, the `Tables`
    * catalog) is freed through it.
    */
  def onApplicationEnd(spark: SparkSession, owner: String)(drop: String => Unit): String = {
    val appId = spark.sparkContext.applicationId
    if (watched.add((owner, appId)))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          drop(appId)
          watched.remove((owner, appId))
        }
      })
    appId
  }

  private def dropMemos(appId: String): Unit =
    memos.synchronized(memos.keySet.removeIf(_._1 == appId))
}
