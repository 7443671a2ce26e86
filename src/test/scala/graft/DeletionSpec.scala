package graft

import graft.operators.{Deletion, ShardWriter}
import org.apache.spark.sql.functions._

/** P29/B15 specs: targeted deletion with propagation — untouched
  * partitions and shards stay byte-identical on disk; the incremental
  * shard re-pack equals a from-scratch re-plan of the survivors;
  * emptied partitions are dropped, not left as residue.
  */
class DeletionSpec extends SparkSpecBase {
  import spark.implicits._

  /** leaf-dir name -> sorted md5s of its parquet files (recursive one
    * level: works for `k=v` and `k=v/k2=v2` layouts).
    */
  private def leafHashes(path: String): Map[String, Seq[String]] = {
    def walk(d: java.io.File, rel: String): Seq[(String, java.io.File)] =
      d.listFiles().toSeq.flatMap {
        case f if f.isDirectory && f.getName.contains("=") =>
          walk(f, if (rel.isEmpty) f.getName else s"$rel/${f.getName}")
        case f if f.isFile && f.getName.endsWith(".parquet") =>
          Seq(rel -> f)
        case _ => Seq.empty
      }
    walk(new java.io.File(path), "").groupBy(_._1).map { case (rel, fs) =>
      rel -> fs.map { case (_, f) =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
      }.sorted
    }
  }

  private def docsDf = sources.Tables.documents(spark, sf)
    .select("doc_id", "text", "source")

  test("purgeByKeys: zero residue, untouched partitions byte-identical, emptied partition dropped") {
    val out = java.nio.file.Files.createTempDirectory("graft_del_log").toString
    // 4 partitions; partition 3 will be fully emptied
    docsDf.withColumn("batch_id", pmod(col("doc_id"), lit(4L)))
      .write.mode("overwrite").partitionBy("batch_id").parquet(out)
    val before = leafHashes(out)
    assert(before.keySet == Set("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"))
    // delete: every doc of partition 3, plus two docs of partition 1
    val ids = docsDf.filter(col("doc_id") % 4 === 3).select("doc_id")
      .as[Long].collect().toSeq ++ Seq(1L, 5L)
    val res = Deletion.purgeByKeys(spark, out, Seq("batch_id"), "doc_id",
      ids.toDF("doc_id"))
    assert(res.dropped.map(_.head.toString) == Seq("3"))
    assert(res.rewritten.map(_.head.toString).sorted == Seq("1"))
    val after = leafHashes(out)
    assert(!after.contains("batch_id=3"), "emptied partition not dropped")
    assert(after("batch_id=0") == before("batch_id=0") &&
      after("batch_id=2") == before("batch_id=2"),
      "untouched partitions were rewritten")
    assert(after("batch_id=1") != before("batch_id=1"))
    val back = spark.read.parquet(out)
    assert(back.join(ids.toDF("doc_id"), Seq("doc_id")).count() == 0,
      "residue rows survived the purge")
    assert(back.count() == docsDf.count() - ids.distinct.size)
    // no-match purge is a no-op
    val noop = Deletion.purgeByKeys(spark, out, Seq("batch_id"), "doc_id",
      Seq(-1L, -2L).toDF("doc_id"))
    assert(noop.touched.isEmpty && leafHashes(out) == after)
  }

  test("purgeByKeys: nested (batch_id, cell) layout rewrites only touched leaves") {
    val out = java.nio.file.Files.createTempDirectory("graft_del_ann").toString
    docsDf.select(col("doc_id"),
        pmod(col("doc_id"), lit(2L)).as("batch_id"),
        pmod(col("doc_id") * 7, lit(3L)).as("cell"))
      .write.mode("overwrite").partitionBy("batch_id", "cell").parquet(out)
    val before = leafHashes(out)
    val res = Deletion.purgeByKeys(spark, out, Seq("batch_id", "cell"),
      "doc_id", Seq(6L).toDF("doc_id")) // 6: batch 0, cell 0
    assert(res.touched.map(t => (t(0).toString, t(1).toString)) ==
      Seq(("0", "0")))
    val after = leafHashes(out)
    assert(after.keySet == before.keySet)
    before.keySet.filterNot(_ == "batch_id=0/cell=0").foreach { k =>
      assert(after(k) == before(k), s"$k rewritten though untouched")
    }
    assert(after("batch_id=0/cell=0") != before("batch_id=0/cell=0"))
    assert(spark.read.parquet(out).filter(col("doc_id") === 6).count() == 0)
  }

  test("deleteFromShardStore: incremental == from-scratch; prefix shards untouched; stale ids pruned") {
    val store = java.nio.file.Files.createTempDirectory("graft_del_sh").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_del_fresh").toString
    // small budget so the sf0.001 corpus spreads over many shards
    val tps = 512L
    ShardWriter.writeShards(ShardWriter.planShards(docsDf, tps), store)
    val before = leafHashes(store)
    val nShardsBefore = before.size
    assert(nShardsBefore >= 4, s"want several shards, got $nShardsBefore")
    // delete a mid-corpus slice — enough tokens to shift later shard
    // boundaries and shrink the shard count
    val ids = (30L until 40L).toDF("doc_id")
    val (rewritten, stale) =
      Deletion.deleteFromShardStore(spark, store, ids, tps)
    assert(rewritten.nonEmpty)
    val firstAffected = rewritten.min
    assert(firstAffected > 0, "test wants a nonempty untouched prefix")
    val after = leafHashes(store)
    (0L until firstAffected).foreach { id =>
      assert(after(s"shard=$id") == before(s"shard=$id"),
        s"prefix shard $id changed on disk")
    }
    stale.foreach(id => assert(!after.contains(s"shard=$id")))
    assert(after.size == nShardsBefore - stale.size)
    // the strong claim: the incremental store equals a from-scratch
    // re-plan of the surviving corpus, byte-for-byte per shard
    val survivors = docsDf.join(ids, Seq("doc_id"), "left_anti")
    ShardWriter.writeShards(ShardWriter.planShards(survivors, tps), fresh)
    val scratch = leafHashes(fresh)
    assert(after == scratch, "incremental delete != from-scratch re-plan")
    // read-back residue zero
    assert(spark.read.parquet(store).join(ids, Seq("doc_id")).count() == 0)
    // no-match delete is a no-op
    val (r2, s2) = Deletion.deleteFromShardStore(spark, store,
      Seq(-5L).toDF("doc_id"), tps)
    assert(r2.isEmpty && s2.isEmpty && leafHashes(store) == after)
  }

  test("purgeByKeys uniformSchema fast path: identical result to the per-leaf path") {
    def build(dir: String): Unit =
      docsDf.withColumn("batch_id", pmod(col("doc_id"), lit(4L)))
        .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    val a = java.nio.file.Files.createTempDirectory("graft_del_u1").toString
    val b = java.nio.file.Files.createTempDirectory("graft_del_u2").toString
    build(a); build(b)
    val ids = (docsDf.filter(col("doc_id") % 4 === 3).select("doc_id")
      .as[Long].collect().toSeq ++ Seq(1L, 5L)).toDF("doc_id")
    val ra = Deletion.purgeByKeys(spark, a, Seq("batch_id"), "doc_id", ids)
    val rb = Deletion.purgeByKeys(spark, b, Seq("batch_id"), "doc_id", ids,
      uniformSchema = true)
    assert(ra.touched.map(_.map(_.toString)).sortBy(_.mkString) ==
      rb.touched.map(_.map(_.toString)).sortBy(_.mkString))
    assert(ra.dropped.map(_.map(_.toString)) == rb.dropped.map(_.map(_.toString)))
    val (da, db) = (spark.read.parquet(a), spark.read.parquet(b))
    assert(da.count() == db.count())
    assert(da.unionByName(db).except(da.intersect(db)).count() == 0 ||
      da.except(db).count() + db.except(da).count() == 0,
      "fast path and per-leaf path diverged in surviving rows")
    // untouched partitions stay byte-identical on the fast path too
    assert(!new java.io.File(s"$b/batch_id=3").exists)
  }

  test("crash-window convergence: mid-swap kill (dst renamed away, stage present) heals and converges byte-identically") {
    // reference: an UNINTERRUPTED purge of an identical store
    def build(dir: String): Unit =
      docsDf.withColumn("batch_id", pmod(col("doc_id"), lit(4L)))
        .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    val ref = java.nio.file.Files.createTempDirectory("graft_cw_ref").toString
    val vic = java.nio.file.Files.createTempDirectory("graft_cw_vic").toString
    build(ref); build(vic)
    val ids = Seq(1L, 5L, 9L).toDF("doc_id") // all in batch_id=1
    Deletion.purgeByKeys(spark, ref, Seq("batch_id"), "doc_id", ids)
    val want = leafHashes(ref)

    // simulate the kill between rename(dst->.old_) and
    // rename(.purge_->dst): the leaf exists ONLY as the hidden
    // backup, plus a half-written stage dir that must NOT win
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val dst = new org.apache.hadoop.fs.Path(vic, "batch_id=1")
    val old = new org.apache.hadoop.fs.Path(vic, ".old_batch_id=1")
    val stg = new org.apache.hadoop.fs.Path(vic, ".purge_batch_id=1")
    assert(fs.rename(dst, old))
    fs.mkdirs(stg)
    val garbage = new org.apache.hadoop.fs.Path(stg, "part-garbage.parquet")
    val os = fs.create(garbage); os.write(Array[Byte](1, 2, 3)); os.close()

    // a rerun (the operator's own entry recovery) converges
    val res = Deletion.purgeByKeys(spark, vic, Seq("batch_id"), "doc_id", ids)
    assert(res.rewritten.map(_.head.toString) == Seq("1"))
    assert(leafHashes(vic) == want, "healed rerun != uninterrupted purge")
    assert(!fs.exists(old) && !fs.exists(stg), "backup/stage residue")
  }

  test("crash-window convergence: swap-completed kill (backup cleanup lost) and stage-only kill both heal") {
    def build(dir: String): Unit =
      docsDf.withColumn("batch_id", pmod(col("doc_id"), lit(4L)))
        .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    val out = java.nio.file.Files.createTempDirectory("graft_cw2").toString
    build(out)
    val ids = Seq(1L, 5L).toDF("doc_id")
    Deletion.purgeByKeys(spark, out, Seq("batch_id"), "doc_id", ids)
    val want = leafHashes(out)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    // swap completed but .old_ cleanup was lost: dst present + backup
    val dst = new org.apache.hadoop.fs.Path(out, "batch_id=2")
    val old = new org.apache.hadoop.fs.Path(out, ".old_batch_id=2")
    fs.mkdirs(old)
    // plus a stage-only leftover from a purge killed before rename 1
    fs.mkdirs(new org.apache.hadoop.fs.Path(out, ".purge_batch_id=0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(out, ".purge_staging"))
    val noop = Deletion.purgeByKeys(spark, out, Seq("batch_id"), "doc_id",
      ids) // keys already gone: must be a no-op on data
    assert(noop.touched.isEmpty)
    assert(fs.exists(dst))
    assert(leafHashes(out) == want)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(out)).forall(s =>
      !s.getPath.getName.startsWith(".old_") &&
        !s.getPath.getName.startsWith(".purge_")),
      "recovery left hidden residue dirs")
  }

  test("crash-window convergence: uniformSchema fast path heals a mid-swap kill") {
    def build(dir: String): Unit =
      docsDf.withColumn("batch_id", pmod(col("doc_id"), lit(4L)))
        .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    val ref = java.nio.file.Files.createTempDirectory("graft_cwf_ref").toString
    val vic = java.nio.file.Files.createTempDirectory("graft_cwf_vic").toString
    build(ref); build(vic)
    val ids = Seq(2L, 6L, 3L, 7L).toDF("doc_id") // touches batches 2 and 3
    Deletion.purgeByKeys(spark, ref, Seq("batch_id"), "doc_id", ids,
      uniformSchema = true)
    val want = leafHashes(ref)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    // mid-swap on batch 2 (dst only in .old_, staging subtree still
    // present with BOTH staged leaves); batch 3 untouched yet
    assert(fs.rename(new org.apache.hadoop.fs.Path(vic, "batch_id=2"),
      new org.apache.hadoop.fs.Path(vic, ".old_batch_id=2")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(vic,
      ".purge_staging/batch_id=2"))
    val rerun = Deletion.purgeByKeys(spark, vic, Seq("batch_id"), "doc_id",
      ids, uniformSchema = true)
    assert(rerun.touched.nonEmpty)
    assert(leafHashes(vic) == want,
      "fast-path healed rerun != uninterrupted purge")
  }

  test("crash-window convergence: shard store heals a mid-swap kill; converges to from-scratch") {
    val store = java.nio.file.Files.createTempDirectory("graft_cw_sh").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_cw_fr").toString
    val tps = 512L
    ShardWriter.writeShards(ShardWriter.planShards(docsDf, tps), store)
    val ids = (30L until 40L).toDF("doc_id")
    val survivors = docsDf.join(ids, Seq("doc_id"), "left_anti")
    ShardWriter.writeShards(ShardWriter.planShards(survivors, tps), fresh)
    val want = leafHashes(fresh)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    // mid-swap kill on some shard: leaf only in .old_, stale staging
    val victim = leafHashes(store).keys.map(_.stripPrefix("shard=").toLong)
      .max // a suffix shard — it will be re-planned
    assert(fs.rename(new org.apache.hadoop.fs.Path(store, s"shard=$victim"),
      new org.apache.hadoop.fs.Path(store, s".old_shard=$victim")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(store, ".purge_staging"))
    val (rew, _) = Deletion.deleteFromShardStore(spark, store, ids, tps)
    assert(rew.nonEmpty)
    assert(leafHashes(store) == want,
      "healed shard delete != from-scratch re-plan")
  }

  test("resolveByFingerprint: content deletion catches every copy, id-based would not") {
    // two ids share identical content; the request carries ONE
    // fingerprint and both ids must resolve
    val docs = Seq((1L, "alpha beta gamma", "s0"), (2L, "delta epsilon", "s0"),
      (3L, "alpha beta gamma", "s1"), (4L, "zeta eta", "s1"))
      .toDF("doc_id", "text", "source")
    val fps = docs.filter(col("doc_id") === 1)
      .select(graft.functions.HashFunctions.md5prefix64(col("text")).as("fp"))
    val ids = Deletion.resolveByFingerprint(docs, "doc_id", "text", fps)
      .as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"resolved $ids")
    // propagated: a store purged by the resolved set holds no copy
    val out = java.nio.file.Files.createTempDirectory("graft_del_fp").toString
    docs.withColumn("batch_id", pmod(col("doc_id"), lit(2L)))
      .write.mode("overwrite").partitionBy("batch_id").parquet(out)
    Deletion.purgeByKeys(spark, out, Seq("batch_id"), "doc_id",
      ids.toSeq.toDF("doc_id"))
    val back = spark.read.parquet(out)
    assert(back.filter(col("text") === "alpha beta gamma").count() == 0)
    assert(back.count() == 2)
  }

  test("purgeByKeys on a live J11 screen store: the store forgets deleted docs and still screens the rest (J29)") {
    import graft.streaming.{AdsbStream, StreamIndexCompaction}
    import graft.streaming.AdsbStream.StreamDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_j29").toString
    val (index, surv) = (s"$dir/index", s"$dir/surv")
    val (rate, nB) = (20, 6)
    def text(b: Int, i: Int): String = (0 until 30).map(w => s"w${b}_${i}_$w").mkString(" ")
    // docs 0 and 1 of every later batch repeat docs 2 and 3 of the
    // batch before, so they screen out; every other doc survives
    def docBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
      val (ob, oi) = if (b > 0 && i < 2) (b - 1, 2 + i) else (b, i)
      StreamDoc(b.toLong * rate + i, text(ob, oi))
    }
    (0 until nB).foreach { b =>
      AdsbStream.screenAndIndexBatch(docBatch(b).toDF("doc_id", "text"),
        b.toLong, "doc_id", "text", 3, index, surv)
      if (b % 3 == 2) { // the purge must cross the compacted segment too
        StreamIndexCompaction.compactIndex(spark, index, keepRecent = 2)
        StreamIndexCompaction.compactIndex(spark, surv, keepRecent = 2)
      }
    }
    assert(StreamIndexCompaction.compactedThrough(spark, index) >= 0)
    // delete doc 2 of every batch: a survivor whose text doc 0 of the
    // next batch repeated
    val delIds = (0 until nB).map(b => b.toLong * rate + 2).toDF("doc_id")
    Deletion.purgeByKeys(spark, index, Seq("batch_id"), "doc_id", delIds)
    Deletion.purgeByKeys(spark, surv, Seq("batch_id"), "doc_id", delIds)
    for (p <- Seq(index, surv))
      assert(spark.read.parquet(p).join(delIds, Seq("doc_id")).isEmpty, s"residue in $p")
    assert(StreamIndexCompaction.compactedThrough(spark, index) >= 0,
      "the purge lost the compacted segment's replay watermark")
    // probe: repeats of deleted docs now pass, repeats of surviving
    // docs still screen out, unique docs pass
    val probe = (0 until nB).map(b => StreamDoc(900000L + b, text(b, 2))) ++
      (0 until nB).map(b => StreamDoc(910000L + b, text(b, 10))) ++
      (0 until nB).map(i => StreamDoc(920000L + i, text(nB, i)))
    AdsbStream.screenAndIndexBatch(probe.toDF("doc_id", "text"),
      nB.toLong, "doc_id", "text", 3, index, surv)
    val passed = spark.read.parquet(surv).filter(col("batch_id") === nB)
      .select("doc_id").as[Long].collect().toSet
    assert(passed == ((900000L until 900000L + nB) ++ (920000L until 920000L + nB)).toSet)
  }
}
