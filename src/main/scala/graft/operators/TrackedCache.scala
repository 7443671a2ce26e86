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
  *    a site name; plan-keyed sites add the canonicalized analyzed
  *    plan of their input plus their parameters. A plan over files
  *    names the paths, not the file contents: call [[release]] after
  *    rewriting an input in place, or the memo serves the old result.
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

  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The session's frame for `key`, built by `build` on a miss (see
    * the contract above).
    */
  def memo(spark: SparkSession, key: Product)(build: => DataFrame): DataFrame = {
    val appId = watch(spark)
    val k = (appId, key)
    val hit = memos.synchronized(memos.get(k))
    if (hit != null) hit
    else {
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

  /** Installs the application's `onApplicationEnd` evictor once. */
  private def watch(spark: SparkSession): String = {
    val appId = spark.sparkContext.applicationId
    if (watched.add(appId))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          dropMemos(appId)
          watched.remove(appId)
        }
      })
    appId
  }

  private def dropMemos(appId: String): Unit =
    memos.synchronized(memos.keySet.removeIf(_._1 == appId))
}
