package graft

import graft.functions.HashFunctions
import graft.streaming.AdsbStream
import org.apache.spark.sql.functions._

/** The COMPOSED production streaming chain, end to end — the order a
  * crawl-ingest pipeline runs its passes:
  *
  *   J17 paragraph dedup-cut → J13 quality gate →
  *   J18 mixing gate → J12 bloom decontamination →
  *   J14 substring screen → J11 band near-dup screen
  *   + J26 group labeler beside J11 → P6 keep-BEST canonicals
  *
  * J26 (r15): the group-label sink consumes the SAME J14-survivor
  * stream the J11 screen does (same band family, same n), so the
  * chain's output is no longer keep-FIRST: at the end,
  * `canonicalFromLabels` selects the highest-quality member of every
  * stream-discovered near-dup group. Invariants (asserted):
  * canonical count == unpaired docs + distinct groups (conservation),
  * and canonical count ≤ J11 survivor count — STRICTLY fewer when
  * transitivity bites: the screen is pairwise-greedy against a
  * SURVIVOR-only index, so a doc whose bands match only an
  * already-killed dup (not the dup's surviving original) slips
  * through keep-first, while the labeler's connected components
  * correctly fold it into the group. The emitted `transitive_regroups`
  * counts exactly those; `canon_better` counts groups where keep-best
  * shipped a DIFFERENT doc than keep-first did.
  *
  * J17 runs FIRST (the CCNet order: paragraph boilerplate is cut
  * before any quality/dedup pass sees the text): every doc carries
  * one of three shared SITE FOOTER paragraphs — the first batch
  * keeps exactly one copy of each (within-batch keeper election),
  * every later occurrence is cut via the cumulative paragraph index.
  *
  * Each batch carries DESIGNED slices so every stage demonstrably
  * kills exactly its own family and nothing else:
  *  - 1% banned docs (first token in the 5k-key blacklist) → J12
  *  - 10% substring dups: 15 tokens of a PREVIOUS batch's final
  *    survivor embedded at offset 3 (no doc-level dup, no aligned
  *    chunk) → only J14's stride-1 windows can see them
  *  - 5% near-dups: a previous final survivor's 18 tokens with ONE
  *    mid token replaced — the longest exact run is 9 < k=10 tokens,
  *    provably INVISIBLE to J14, caught by J11's shingle bands
  *  - the rest globally-unique identity-token docs
  *
  * Dup slices reference the chain's own published output (the J11
  * survivor store of batch b−1) — the re-crawl loop a production
  * screen faces. Stateless stages must report 0 streaming state;
  * the two indexes must grow linearly in SURVIVORS. Per-batch
  * per-stage counts print as one JSON line per rate.
  *
  * Usage: sbt "runMain graft.StreamChainBench" (local parallelism
  * from `SPARK_GRAFT_CPUS`, default 4 — see [[GraftSession.cores]])
  */
object StreamChainBench {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("streamchain").toString
    val batches = 6
    val rates = Seq(10000, 50000)
    // ALL generated tokens are letter-only: CCNet's digits->0
    // normalization (J17) would otherwise collapse digit-ID tokens
    // ("w0_17_3" and "w0_52_3" both normalize to "w0_00_0") and the
    // paragraph screen would - correctly! - cut the "unique" bodies
    // as corpus-wide repeats, starving every downstream stage
    def alpha(n: Long): String = {
      var x = n; val sb = new StringBuilder
      do { sb.append(('a' + (x % 26).toInt).toChar); x /= 26 } while (x > 0)
      sb.toString
    }
    val banned = (0 until 5000).map(j => s"banned${alpha(j)}")
    val blacklist = banned.toDF("tok")
      .select(HashFunctions.md5prefix64(col("tok")).as("fp"))

    for (rate <- rates) {
      val idx17 = s"$tmp/c$rate/idx17"; val surv17 = s"$tmp/c$rate/surv17"
      val idx14 = s"$tmp/c$rate/idx14"; val surv14 = s"$tmp/c$rate/surv14"
      val idx11 = s"$tmp/c$rate/idx11"; val surv11 = s"$tmp/c$rate/surv11"
      val j26 = s"$tmp/c$rate/j26"
      val nBan = rate / 100; val nSub = rate / 10; val nNear = rate / 20

      // three site footers (letter variants — digit variants would
      // collapse under CCNet's digits->0 normalization by design)
      val footers = Seq("site footer alpha rights reserved",
        "site footer beta rights reserved", "site footer gamma rights reserved")

      def base(b: Int, i: Int): String =
        (0 until 18).map(w => s"w${alpha(b)}q${alpha(i)}q${alpha(w)}").mkString(" ")

      def mkBatch(b: Int, prev: IndexedSeq[String]): Seq[(Long, String)] =
        (0 until rate).map { i =>
          val id = b.toLong * rate + i
          val text =
            if (i < nBan) banned(i % banned.size) + " " + base(b, i).split(" ").drop(1).mkString(" ")
            else if (b > 0 && i < nBan + nSub) {
              val core = prev((i - nBan) % prev.size).split(" ")
              ((0 until 3).map(w => s"p${alpha(b)}q${alpha(i)}q${alpha(w)}") ++ core.take(15)).mkString(" ")
            } else if (b > 0 && i < nBan + nSub + nNear) {
              // reference a DIFFERENT survivor region than the
              // substring slice and replace the middle token: longest
              // shared run 9 < k=10
              val src = prev((nSub + (i - nBan - nSub)) % prev.size).split(" ").toBuffer
              src(9) = s"n${alpha(b)}q${alpha(i)}qx"
              src.mkString(" ")
            } else base(b, i)
          // every doc carries a shared footer paragraph -> J17 fodder
          (id, text + "\n" + footers(i % footers.size))
        }

      val stageCounts = Array.fill(batches, 7)(0L)
      val footersKept = new Array[Long](batches)
      val idxTraj17 = new Array[Long](batches)
      val idxTraj14 = new Array[Long](batches)
      val idxTraj11 = new Array[Long](batches)
      val labelTraj = new Array[Long](batches)
      // per-stage wall attribution (r17): each operator call (and
      // each persisted frame's materializing count) is timed where it
      // runs, so the JSON line says WHERE a batch's fixed cost goes —
      // additions-only, same work, same outputs.
      val stageSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
      def timed[T](k: String)(f: => T): T = {
        val ts = System.nanoTime(); val r = f
        stageSecs(k) = stageSecs.getOrElse(k, 0.0) + (System.nanoTime() - ts) / 1e9
        r
      }
      val t0 = System.nanoTime()
      var prev: IndexedSeq[String] = IndexedSeq.empty
      for (b <- 0 until batches) {
        val batch = mkBatch(b, prev).toDF("doc_id", "text")
        // J17: paragraph dedup-cut FIRST (boilerplate gone before any
        // downstream pass tokenizes the text)
        timed("j17")(AdsbStream.paragraphScreenBatch(batch, b, "doc_id", "text",
          idx17, surv17))
        val s17 = spark.read.parquet(surv17)
          .filter(col("batch_id") === b)
          .select(col("doc_id"), col("text_kept").as("text")).persist()
        val c17 = timed("j17")(s17.count())
        footersKept(b) = timed("instr")(
          s17.filter(col("text").contains("site footer")).count())
        // J13: stateless classifier gate
        val gated = AdsbStream.qualityGateStream(s17, "doc_id", "text",
            graft.queries.PipelineQueries.classifierWeights)
          .select("doc_id", "text").persist()
        val c13 = timed("j13")(gated.count())
        // J18: mixing gate to per-source target rates (the P5 keep
        // rule as a stateless map stage; source class orthogonal to
        // the designed slices — doc_id mod 3 — so every family thins
        // proportionally and each stage's own kill stays visible)
        val mixed = AdsbStream.mixingGateStream(
            gated.withColumn("src",
              concat(lit("src"), pmod(col("doc_id"), lit(3)).cast("string"))),
            "doc_id", "src",
            Seq("src0" -> 1000000L, "src1" -> 700000L, "src2" -> 400000L))
          .drop("src").persist()
        val c18 = timed("j18")(mixed.count())
        // J12: bloom-screened decontamination on the doc's lead token
        val keyed = mixed.withColumn("fp",
          HashFunctions.md5prefix64(split(col("text"), " ").getItem(0)))
        val cleaned = AdsbStream.bloomScreenStream(keyed, "fp", blacklist, "fp")
          .drop("fp").persist()
        val c12 = timed("j12")(cleaned.count())
        // J14: exact-substring screen + window-index append
        timed("j14")(AdsbStream.substringScreenBatch(cleaned, b, "doc_id", "text", 10,
          idx14, surv14))
        val s14 = spark.read.parquet(surv14)
          .filter(col("batch_id") === b).select("doc_id", "text").persist()
        val c14 = timed("j14")(s14.count())
        // J11: band near-dup screen + band-index append
        timed("j11")(AdsbStream.screenAndIndexBatch(s14, b, "doc_id", "text", 3,
          idx11, surv11))
        // J26: group labeler on the SAME stream the screen consumes
        timed("j26")(AdsbStream.labelBatchIntoGroupState(s14, b, "doc_id", "text", 3, j26))
        val s11 = spark.read.parquet(surv11)
          .filter(col("batch_id") === b).select("doc_id", "text")
        stageCounts(b) = timed("instr")(Array(rate.toLong, c17, c13,
          c18, c12, c14, s11.count()))
        timed("instr") {
          labelTraj(b) =
            try spark.read.parquet(s"$j26/labels").count()
            catch { case _: org.apache.spark.sql.AnalysisException => 0L }
          idxTraj17(b) = spark.read.parquet(idx17).count()
          idxTraj14(b) = spark.read.parquet(idx14).count()
          idxTraj11(b) = spark.read.parquet(idx11).count()
        }
        // dup slices reference the BODY line of prior survivors (the
        // footer line, when a keeper kept it, is not part of the span)
        prev = timed("instr")(s11.orderBy("doc_id").collect()
          .map(_.getString(1).split("\n")(0)).toIndexedSeq)
        s17.unpersist(); gated.unpersist(); mixed.unpersist()
        cleaned.unpersist(); s14.unpersist()
      }
      // keep-BEST read-out over everything the labeler saw: quality =
      // text length (deterministic, varies across a group: near-dup
      // copies swap one token of different width)
      val allSeen = spark.read.parquet(surv14)
        .select(col("doc_id"), length(col("text")).cast("long").as("quality"))
      val canon = AdsbStream.canonicalFromLabels(spark, j26, allSeen,
        "doc_id", "quality").persist()
      val canonCount = canon.count()
      val finalSurvivors = spark.read.parquet(surv11).count()
      require(canonCount <= finalSurvivors,
        s"canonical count $canonCount > J11 survivor count $finalSurvivors")
      // conservation: one canonical per stream-discovered group plus
      // one per never-paired doc
      val labels = AdsbStream.readNearDupLabels(spark, j26, "doc_id").persist()
      val paired = labels.count()
      val groups = labels.select("label").distinct().count()
      labels.unpersist()
      val allDocs = allSeen.count()
      require(canonCount == allDocs - paired + groups,
        s"canonical conservation broke: $canonCount != $allDocs - $paired + $groups")
      val survivorIds = spark.read.parquet(surv11).select(col("doc_id"))
      val canonBetter = canon.join(survivorIds,
        canon("keep_id") === survivorIds("doc_id"), "left_anti").count()
      canon.unpersist()
      val secs = (System.nanoTime() - t0) / 1e9
      val rowsIn = batches.toLong * rate
      def arr(sel: Int) = stageCounts.map(_(sel)).mkString("[", ",", "]")
      println(s"""{"scenario":"chain_j17_j13_j18_j12_j14_j11","rows_per_batch":$rate,""" +
        s""""batches":$batches,"rows_in":$rowsIn,"wall_s":${f"$secs%.2f"},""" +
        s""""rows_per_s":${(rowsIn / secs).toLong},""" +
        s""""in":${arr(0)},"after_para":${arr(1)},"after_quality":${arr(2)},"after_mix":${arr(3)},"after_bloom":${arr(4)},""" +
        s""""after_substr":${arr(5)},"after_band":${arr(6)},""" +
        s""""footers_kept":${footersKept.mkString("[", ",", "]")},""" +
        s""""idx17_rows":${idxTraj17.mkString("[", ",", "]")},""" +
        s""""idx14_rows":${idxTraj14.mkString("[", ",", "]")},""" +
        s""""idx11_rows":${idxTraj11.mkString("[", ",", "]")},""" +
        s""""label_rows":${labelTraj.mkString("[", ",", "]")},""" +
        s""""canonicals":$canonCount,"final_survivors":$finalSurvivors,""" +
        s""""transitive_regroups":${finalSurvivors - canonCount},""" +
        s""""stage_secs":${stageSecs.map { case (k, v) =>
          "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")},""" +
        s""""canon_better":$canonBetter}""")
    }
    spark.stop()
  }
}
