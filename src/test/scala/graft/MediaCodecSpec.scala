package graft

import graft.operators.{MediaCodec, Multimodal}
import graft.operators.Multimodal.MediaRecord
import org.apache.spark.sql.functions._

/** Real-codec specs (I5/I6): genuine PNG/JPEG bytes produced and
  * decoded via the JDK's ImageIO, genuine RIFF/WAV bytes parsed
  * directly — no stub anywhere in these paths. The roundtrip
  * assertions (synthesize with known parameters → encode → decode →
  * recover the parameters) are strictly stronger than a SQL oracle
  * could be, since no SQL engine decodes media.
  */
class MediaCodecSpec extends SparkSpecBase {
  import spark.implicits._

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("PNG synth → ImageIO decode recovers true dimensions and channels (I5)") {
    val png = MediaCodec.synthImagePng(seed = 42L, w = 97, h = 61)
    // magic bytes prove this is a real PNG container, not a stub blob
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val meta = MediaCodec.imageMeta(png).get
    assert(meta.width == 97 && meta.height == 61)
    assert(meta.channels == 3)
    assert(meta.sharpness > 0.0 && meta.sharpness < 1.0)
    // deterministic: same seed → byte-identical PNG and identical meta
    assert(java.util.Arrays.equals(png, MediaCodec.synthImagePng(42L, 97, 61)))
  }

  test("JPEG re-encode decodes with identical dimensions (I5)") {
    val png = MediaCodec.synthImagePng(7L, 64, 48)
    val jpg = MediaCodec.reencodeJpeg(png).get
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8) // JFIF SOI marker
    val meta = MediaCodec.imageMeta(jpg).get
    assert(meta.width == 64 && meta.height == 48)
  }

  test("pHash is stable under lossy re-encode and resize, far for distinct images (I5)") {
    val a = MediaCodec.synthImagePng(1L, 96, 96)
    val aJpg = MediaCodec.reencodeJpeg(a).get
    val aSmall = MediaCodec.resizePng(a, 48, 48).get
    val b = MediaCodec.synthImagePng(987654L, 96, 96)
    val ha = MediaCodec.phash64(a).get
    assert(hamming(ha, MediaCodec.phash64(aJpg).get) <= 7,
      s"jpeg re-encode drifted ${hamming(ha, MediaCodec.phash64(aJpg).get)} bits")
    assert(hamming(ha, MediaCodec.phash64(aSmall).get) <= 7,
      s"2x downscale drifted ${hamming(ha, MediaCodec.phash64(aSmall).get)} bits")
    assert(hamming(ha, MediaCodec.phash64(b).get) >= 12,
      s"distinct seeds only ${hamming(ha, MediaCodec.phash64(b).get)} bits apart")
  }

  test("resizePng preserves aspect, never upscales, matches the planResize integer spelling (I5)") {
    val png = MediaCodec.synthImagePng(3L, 200, 100)
    val out = MediaCodec.resizePng(png, 64, 64).get
    val meta = MediaCodec.imageMeta(out).get
    // scale = min(64000/200, 64000/100, 1000) = 320 per-mille → 64×32
    assert(meta.width == 64 && meta.height == 32)
    // no upscale branch
    val same = MediaCodec.imageMeta(MediaCodec.resizePng(png, 4096, 4096).get).get
    assert(same.width == 200 && same.height == 100)
  }

  test("WAV roundtrip: RIFF parse recovers rate/frames/duration and sine RMS (I6)") {
    val wav = MediaCodec.synthWav(seed = 5L, sampleRate = 8000, ms = 250)
    val m = MediaCodec.parseWav(wav).get
    assert(m.sampleRate == 8000 && m.channels == 1 && m.bitsPerSample == 16)
    assert(m.nFrames == 2000 && m.durationMs == 250)
    // sine amplitude 8000 → RMS ≈ 8000/√2 = 5657 → milli-FS ≈ 172
    assert(m.rmsMilli >= 165 && m.rmsMilli <= 176, s"rmsMilli = ${m.rmsMilli}")
  }

  test("undecodable payloads return None and extractFeatures falls back flagged (I2)") {
    val garbage = "definitely not an image".getBytes("UTF-8")
    assert(MediaCodec.imageMeta(garbage).isEmpty)
    assert(MediaCodec.phash64(garbage).isEmpty)
    assert(MediaCodec.parseWav(garbage).isEmpty)
    // truncated PNG: magic intact, body cut — reader must not throw
    val png = MediaCodec.synthImagePng(1L, 32, 32)
    assert(MediaCodec.imageMeta(png.take(20)).isEmpty)

    val recs = Seq(
      MediaRecord(1L, png, "image", "png"),
      MediaRecord(2L, garbage, "image", "jpeg")).toDS()
    val feats = Multimodal.extractFeatures(spark, recs).collect().sortBy(_.doc_id)
    assert(feats(0).decoded && feats(0).width == 32 && feats(0).height == 32)
    assert(!feats(1).decoded) // stub fallback, still a row
  }

  test("phash256 separates re-encodes from distinct images with a wide confirm gap (I5c)") {
    def h256(a: Array[Long], b: Array[Long]): Int =
      (0 until 4).map(i => java.lang.Long.bitCount(a(i) ^ b(i))).sum
    for (seed <- Seq(1L, 7L, 42L, 12345L)) {
      val png = MediaCodec.synthImagePng(seed, 96, 96)
      val hp = MediaCodec.phash256(png).get
      val dJpeg = h256(hp, MediaCodec.phash256(MediaCodec.reencodeJpeg(png).get).get)
      val dResize = h256(hp, MediaCodec.phash256(MediaCodec.resizePng(png, 48, 48).get).get)
      val dCross = h256(hp, MediaCodec.phash256(MediaCodec.synthImagePng(seed + 777L, 96, 96)).get)
      // measured over 500 seeds: dup drift <= 58, cross >= 94 — the
      // mid-gap confirm threshold 75 cleanly separates; these pins
      // hold a margin inside that
      assert(dJpeg <= 64, s"seed $seed jpeg drift $dJpeg")
      assert(dResize <= 64, s"seed $seed resize drift $dResize")
      assert(dCross >= 80, s"seed $seed cross distance $dCross")
    }
    assert(MediaCodec.phash256("junk".getBytes("UTF-8")).isEmpty)
  }

  test("animated GIF roundtrip: frame count, planted scene cut detected, keyframes/sampling (I7)") {
    for (seed <- Seq(0L, 5L, 17L, 123L, 4567L)) {
      val cutAt = 2 + (seed % 5).toInt
      val gif = MediaCodec.synthGifAnimated(seed, 96, 96, nFrames = 8, cutAt = cutAt)
      assert(gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F') // real GIF container
      val frames = MediaCodec.gifFrames(gif).get
      assert(frames.length == 8)
      assert(frames.forall(f => f.getWidth == 96 && f.getHeight == 96))
      val hs = MediaCodec.gifFramePHashes(gif).get
      val cuts = MediaCodec.sceneCuts(hs)
      assert(cuts.toSeq == Seq(cutAt), s"seed $seed: cuts ${cuts.toSeq}, planted $cutAt")
    }
    assert(MediaCodec.uniformFrameIdx(8, 4).toSeq == Seq(0, 2, 4, 6))
    assert(MediaCodec.uniformFrameIdx(5, 8).toSeq == Seq(0, 1, 2, 3, 4)) // k capped at n
    assert(MediaCodec.gifFrames("not a gif".getBytes("UTF-8")).isEmpty)
    // PNG bytes decode as images but are NOT a GIF sequence
    assert(MediaCodec.gifFrames(MediaCodec.synthImagePng(1L, 16, 16)).isEmpty)
  }

  test("audio DSP: Goertzel dominant frequency recovers the planted tone, ZCR matches (I8)") {
    for (seed <- Seq(0L, 3L, 100L, 659L)) {
      val planted = 220 + math.floorMod(seed, 660L).toInt
      val wav = MediaCodec.synthWav(seed, sampleRate = 8000, ms = 250)
      val dom = MediaCodec.dominantFreq(wav, 100, 1000, 5).get
      assert(math.abs(dom - planted) <= 3, s"planted $planted, dominant $dom") // half the 5 Hz grid
      val zc = MediaCodec.zeroCrossings(wav).get
      val expected = 2L * planted * 250 / 1000
      assert(math.abs(zc - expected) <= 2, s"planted $planted: zc $zc vs ~$expected")
    }
    assert(MediaCodec.dominantFreq("junk".getBytes("UTF-8"), 100, 1000, 5).isEmpty)
  }

  test("every PNG decode, GIF keyframe cut and WAV tone is recovered across Spark partitions (I5, I7, I8)") {
    // the codec family as the media queries run it: mapPartitions over
    // ids spread to every core, one synth→encode→decode→feature per id
    val n = 200L
    val ids = spark.range(n).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
    val imgOk = ids.mapPartitions(_.map { id =>
      if (MediaCodec.phash64(MediaCodec.synthImagePng(id, 96, 96)).isDefined) 1L else 0L
    }).reduce(_ + _)
    assert(imgOk == n, s"image decodes: $imgOk of $n")
    val gifOk = ids.filter(_ < n / 10).mapPartitions(_.map { id =>
      val cutAt = 2 + (id % 5).toInt
      val gif = MediaCodec.synthGifAnimated(id, 96, 96, 8, cutAt)
      val cuts = MediaCodec.sceneCuts(MediaCodec.gifFramePHashes(gif).get)
      if (cuts.toSeq == Seq(cutAt)) 1L else 0L
    }).reduce(_ + _)
    assert(gifOk == n / 10, s"planted keyframe cuts found: $gifOk of ${n / 10}")
    val wavOk = ids.mapPartitions(_.map { id =>
      val planted = 220 + math.floorMod(id, 660L).toInt
      val dom = MediaCodec.dominantFreq(MediaCodec.synthWav(id, 8000, 100), 100, 1000, 5).get
      if (math.abs(dom - planted) <= 3) 1L else 0L
    }).reduce(_ + _)
    assert(wavOk == n, s"planted tones recovered: $wavOk of $n")
  }

  test("mediaNearDupPairsReal pairs re-encoded copies, not distinct assets (I4-real)") {
    // 3 assets, each present as PNG + lossy JPEG copy, plus one garbage payload
    val recs = (1L to 3L).flatMap { s =>
      val png = MediaCodec.synthImagePng(s * 1000003L, 96, 96)
      Seq(MediaRecord(s * 10, png, "image", "png"),
        MediaRecord(s * 10 + 1, MediaCodec.reencodeJpeg(png).get, "image", "jpeg"))
    } :+ MediaRecord(99L, "junk-bytes".getBytes("UTF-8"), "image", "png")
    val pairs = Multimodal.mediaNearDupPairsReal(spark, recs.toDS(), maxHamming = 7)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L), (20L, 21L), (30L, 31L)), s"got $pairs")
    // the two-level confirm keeps the same true pairs and reports a
    // 256-bit distance inside the measured dup band (≤ 64)
    val precise = Multimodal.mediaNearDupPairsPrecise(spark, recs.toDS())
      .select("a", "b", "hamming256").as[(Long, Long, Int)].collect()
    assert(precise.map(p => (p._1, p._2)).toSet ==
      Set((10L, 11L), (20L, 21L), (30L, 31L)))
    assert(precise.forall(_._3 <= 64), precise.mkString(","))
    // the 64-bit hashes of a MediaHash2 row match the one-decode path
    val h2 = Multimodal.realPHashes2(spark, recs.toDS()).collect()
      .map(r => r.doc_id -> r).toMap
    val h1 = Multimodal.realPHashes(spark, recs.toDS()).collect()
      .map(r => r.doc_id -> r.phash).toMap
    assert(h2.forall { case (id, r) => r.phash == h1(id) })
    assert(!h2(99L).decoded && h2(99L).phash256.forall(_ == h2(99L).phash))
  }

  test("i5d operating report pins the measured confirm gap as report rows (dup ≤ 58 / distinct ≥ 94)") {
    val rows = SparkEntry.queries("i5d_media_confirm_operating_report")(spark, sf)
      .collect()
    val at75 = rows.filter(_.getAs[Int]("threshold") == 75)
    val dup = at75.find(_.getAs[String]("pop") == "dup").get
    val dist = at75.find(_.getAs[String]("pop") == "distinct").get
    // the operating point i5c ships: every planted dup confirmed,
    // zero distinct probes confirmed
    assert(dup.getAs[Long]("n_confirmed") == dup.getAs[Long]("n_pairs"))
    assert(dup.getAs[Long]("n_pairs") > 0)
    assert(dist.getAs[Long]("n_confirmed") == 0L)
    // the measured gap, as INVARIANT BANDS rather than exact tails:
    // the extrema derive from THIS JDK's ImageIO JPEG encoder output
    // (measured on it: dup max 54, distinct min 94) and another
    // vendor's encoder can shift them a few bits — what the operating
    // point NEEDS is the dup population under / the distinct
    // population over the confirm threshold with margin
    assert(dup.getAs[Int]("max_h256") <= 70, dup.toString)
    assert(dist.getAs[Int]("min_h256") >= 80, dist.toString)
    // candidate-stage recall: on this JDK the radius-7 banding
    // surfaces 498 of 500 planted dups (a 2-pair drift-8 tail —
    // measured, and the reason the second pass exists); as an
    // invariant, the first pass covers nearly all and the drift tail
    // stays within the probe pass's radius2 = 10
    val nPairs = dup.getAs[Long]("n_pairs")
    assert(dup.getAs[Long]("n_cand64") >= nPairs - 10 &&
      dup.getAs[Long]("n_cand64") <= nPairs, dup.toString)
    assert(dup.getAs[Int]("max_h64") <= 10, dup.toString)
    assert(dist.getAs[Long]("n_cand64") == 0L, dist.toString)
    // the r11 second-pass column: 100 % candidate recall at the
    // shipped two-pass operating point, distinct probes still zero
    assert(dup.getAs[Long]("n_cand64_p2") == nPairs, dup.toString)
    assert(dist.getAs[Long]("n_cand64_p2") == 0L, dist.toString)
  }

  test("two-pass near-dup operator recovers the drift-8 candidate tail (100% recall on 500 planted pairs)") {
    // the i5d corpus, run through the OPERATOR (not the analytic
    // report): 500 seeds, each PNG paired with its lossy JPEG
    // re-encode under id+100000
    val recs = spark.range(500).repartition(4).as[Long]
      .mapPartitions(it => it.flatMap { id =>
        val png = MediaCodec.synthImagePng(id, 96, 96)
        Iterator(
          MediaRecord(id, png, "image", "png"),
          MediaRecord(id + 100000L, MediaCodec.reencodeJpeg(png).get, "image", "jpeg"))
      })
    val pairs = Multimodal.mediaNearDupPairsPrecise2(spark, recs)
      .select("a", "b", "pass").as[(Long, Long, String)].collect()
    val planted = (0L until 500L).map(id => (id, id + 100000L)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    // 100 % candidate+confirm RECALL — the property the second pass
    // exists for (pass 1 alone measured 498/500)
    assert((planted -- got).isEmpty, s"missing ${planted -- got}")
    // extra pairs are EMERGENT perceptual collisions, not defects: at
    // 500 seeds the low-frequency DCT space birthday-collides (on
    // this JDK, seeds 203/381 — their cross-copies confirm at
    // h256 ≤ 75, i.e. the metric says the images look alike). Bound
    // them rather than pin seeds: a handful across 500·999/2
    // candidate pair slots
    val spurious = got -- planted
    assert(spurious.size <= 10, s"unexpected spurious volume: $spurious")
    // the recovered tail rides the probe pass (on this JDK: the two
    // drift-8 pairs; band-invariant claim: pass-1 + probe = all)
    val byPass = pairs.filter(p => planted((p._1, p._2)))
      .groupBy(_._3).view.mapValues(_.length).toMap
    assert(byPass.getOrElse("band7", 0) + byPass.getOrElse("probe", 0) == 500)
    assert(byPass.getOrElse("band7", 0) >= 490, byPass.toString)
  }

  test("GIF re-encode and trim round-trip through real frames (I9 transforms)") {
    val gif = MediaCodec.synthGifAnimated(11L, 96, 96, nFrames = 8, cutAt = 4)
    val re = MediaCodec.reencodeGif(gif).get
    assert(MediaCodec.gifFrames(re).get.length == 8)
    // palette re-quantization of already-quantized frames: per-frame
    // prints land at drift ~0 — inside any banded radius
    val h0 = MediaCodec.gifFramePHashes(gif).get
    val h1 = MediaCodec.gifFramePHashes(re).get
    assert(h0.indices.forall(i => hamming(h0(i), h1(i)) <= 7),
      h0.indices.map(i => hamming(h0(i), h1(i))).toSeq.toString)
    // trim drops the prefix; surviving frames are bit-identical content
    val tr = MediaCodec.trimGif(gif, 2).get
    val ht = MediaCodec.gifFramePHashes(tr).get
    assert(ht.length == 6)
    assert(ht.indices.forall(i => hamming(ht(i), h0(i + 2)) <= 2),
      ht.indices.map(i => hamming(ht(i), h0(i + 2))).toSeq.toString)
    // trimming everything up to the cut leaves a single-scene clip
    assert(MediaCodec.trimGif(gif, 7).isDefined &&
      MediaCodec.trimGif(gif, 8).isEmpty)
  }

  test("audio fingerprint: gain-invariant, requantize-robust, melody-discriminating (I10 transforms)") {
    val wav = MediaCodec.synthWavMelody(5L, 8000, 160)
    val fp = MediaCodec.audioFingerprint64(wav).get
    // gain scaling preserves every band comparison exactly
    val half = MediaCodec.scaleWavGain(wav, 1, 2).get
    assert(hamming(fp, MediaCodec.audioFingerprint64(half).get) == 0)
    // 8-bit requantization perturbs energies ~1%: a few near-tie bits
    val rq = MediaCodec.requantizeWav8(wav).get
    assert(hamming(fp, MediaCodec.audioFingerprint64(rq).get) <= 7)
    // distinct melodies differ in ~3/4 of tone windows (~24 bits)
    val far = (6L until 30L).map(s => hamming(fp,
      MediaCodec.audioFingerprint64(MediaCodec.synthWavMelody(s, 8000, 160)).get))
    assert(far.forall(_ > 7), far.toString)
    // fingerprint is deterministic and the WAV is a real RIFF payload
    assert(MediaCodec.parseWav(wav).isDefined)
    assert(MediaCodec.audioFingerprint64(
      MediaCodec.synthWavMelody(5L, 8000, 160)).get == fp)
  }

  test("audio near-dup collapses gain and requantized copies, distinct recordings stay apart (I10)") {
    val n = 200L
    val ids = spark.range(n).select(col("id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
    val recs = ids.mapPartitions(_.flatMap { id =>
      val wav = MediaCodec.synthWavMelody(id, 8000, 160)
      val orig = MediaRecord(id, wav, "audio", "wav")
      if (id < 6)
        Iterator(orig,
          MediaRecord(id + 1000L, MediaCodec.scaleWavGain(wav, 1, 2).get, "audio", "wav"),
          MediaRecord(id + 2000L, MediaCodec.requantizeWav8(wav).get, "audio", "wav"))
      else Iterator(orig)
    })
    val pairs = Multimodal.audioNearDupPairs(spark, recs)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val planted = (0L until 6L).flatMap(i =>
      Seq((i, i + 1000L), (i, i + 2000L), (i + 1000L, i + 2000L))).toSet
    assert(planted.subsetOf(pairs), s"missed: ${planted -- pairs}")
    val cross = pairs.filter { case (a, b) => a % 1000L != b % 1000L }
    assert(cross.isEmpty, s"distinct recordings collapsed: $cross")
  }

  test("video near-dup collapses re-encoded and trimmed copies at the asset grain, distinct clips stay apart (I9)") {
    val n = 40L
    val ids = spark.range(n).select(col("id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
    val recs = ids.mapPartitions(_.flatMap { id =>
      val cutAt = 2 + (id % 5).toInt
      val gif = MediaCodec.synthGifAnimated(id, 96, 96, 8, cutAt)
      val orig = MediaRecord(id, gif, "video", "gif")
      if (id < 6)
        Iterator(orig,
          MediaRecord(id + 1000L, MediaCodec.reencodeGif(gif).get, "video", "gif"),
          MediaRecord(id + 2000L, MediaCodec.trimGif(gif, 2).get, "video", "gif"))
      else Iterator(orig)
    })
    val prints = Multimodal.videoFramePrints(spark, recs)
    // every asset decodes to a full print table; keyframes = frame 0
    // + the planted cut for originals (trims of cutAt=2 clips are
    // single-scene: frame 0 only)
    val nAssets = prints.select("doc_id").distinct().count()
    assert(nAssets == n + 12)
    val pairs = Multimodal.videoNearDupPairs(prints)
      .select("a", "b", "cover_ppm")
      .as[(Long, Long, Long)].collect()
    val got = pairs.map(p => (p._1, p._2)).toSet
    // all three pairings of {orig, re-encode, trim} collapse
    val planted = (0L until 6L).flatMap(i =>
      Seq((i, i + 1000L), (i, i + 2000L), (i + 1000L, i + 2000L))).toSet
    assert(planted.subsetOf(got), s"missed: ${planted -- got}")
    // no distinct-clip pair survives the frame-set confirm
    val cross = got.filter { case (a, b) => a % 1000L != b % 1000L }
    assert(cross.isEmpty, s"distinct clips collapsed: $cross")
    // the trimmed copy covers 100% of itself
    val trimCover = pairs.filter(p => p._2 == p._1 + 2000L).map(_._3)
    assert(trimCover.nonEmpty && trimCover.forall(_ == 1000000L),
      trimCover.toSeq.toString)
  }
}
