package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** I-group multimodal column plumbing (SURVEY §2 I1-I3).
  *
  * Media payloads are opaque `binary` columns with a typed metadata
  * struct alongside. The expensive per-record work (decode, feature
  * extraction, resize, frame sampling) runs batched per partition via
  * `mapPartitions` over a typed Dataset — the Scala analogue of a
  * batched Python `mapInPandas` stage: one iterator per partition, no
  * per-row task overhead, memory bounded by the partition.
  *
  * The codec itself is REAL for the formats the JDK ships codecs for
  * (PNG/JPEG/BMP/GIF via `javax.imageio`, PCM WAV via a direct RIFF
  * parse — see [[MediaCodec]]): decode, luma sharpness, DCT
  * perceptual hash and area-average resize all operate on genuine
  * pixels/samples. Payloads the JDK cannot decode (video, webp,
  * non-media bytes) fall back to the deterministic [[StubCodec]],
  * flagged `decoded = false`, so mixed corpora keep flowing with an
  * honest per-record provenance bit.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, payload: Array[Byte],
                         media_type: String, declared_format: String)

  case class MediaFeatures(doc_id: Long, media_type: String,
                           n_bytes: Int, width: Int, height: Int,
                           channels: Int, sharpness: Double,
                           decoded: Boolean)

  case class ResizeParams(maxWidth: Int, maxHeight: Int)

  case class FrameSample(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Deterministic stand-in for a media codec. Replace this object to
    * plug a real decoder; nothing else changes.
    */
  object StubCodec {
    /** Pseudo "decode": metadata derived from payload bytes only. */
    def decode(payload: Array[Byte]): (Int, Int, Int, Double) = {
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
      val w = 1 + math.floorMod(h, 1920L).toInt
      val ht = 1 + math.floorMod(h >> 16, 1080L).toInt
      val ch = 1 + math.floorMod(h >> 32, 4L).toInt
      val sharp = math.floorMod(h >> 40, 10000L) / 10000.0
      (w, ht, ch, sharp)
    }
  }

  /** Wrap a text/document frame into media records (payload = utf-8
    * bytes in tests; in production this is the raw image/audio blob).
    */
  def toMediaRecords(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      col(payloadCol).as("payload"),
      lit("image").as("media_type"),
      lit("jpeg").as("declared_format"))

  /** Batched per-partition feature extraction (I2): real JDK decode
    * first ([[MediaCodec.imageMeta]]), deterministic stub fallback
    * for undecodable payloads, with `decoded` recording which path
    * produced each row.
    */
  def extractFeatures(spark: SparkSession, records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import spark.implicits._
    records.mapPartitions { it =>
      // One-time per-partition codec setup would go here (the batch
      // shape real codecs need); ImageIO readers are instantiated
      // per-call and the stub needs none.
      it.map { r =>
        MediaCodec.imageMeta(r.payload) match {
          case Some(m) =>
            MediaFeatures(r.doc_id, r.media_type, r.payload.length,
              m.width, m.height, m.channels, m.sharpness, decoded = true)
          case None =>
            val (w, h, ch, sharp) = StubCodec.decode(r.payload)
            MediaFeatures(r.doc_id, r.media_type, r.payload.length, w, h, ch, sharp,
              decoded = false)
        }
      }
    }
  }

  case class MediaHash(doc_id: Long, phash: Long, decoded: Boolean)

  /** Real perceptual hashes (I4 on genuine pixels): JDK decode → DCT
    * pHash per partition batch; undecodable payloads fall back to the
    * exact-sensitive stub hash so every record still lands in the
    * banded index.
    */
  def realPHashes(spark: SparkSession, records: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import spark.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        MediaCodec.phash64(r.payload) match {
          case Some(h) => MediaHash(r.doc_id, h, decoded = true)
          case None =>
            var h = 1125899906842597L
            var i = 0
            while (i < r.payload.length) { h = 31 * h + (r.payload(i) & 0xff); i += 1 }
            MediaHash(r.doc_id, h, decoded = false)
        }
      }
    }
  }

  /** Media near-dup pairs over REAL pHashes: decode + DCT hash per
    * partition, then the 8×8-bit multi-index banded Hamming join
    * ([[Dedup.hammingBandPairsWide]], lossless to radius 7 — wide
    * enough for lossy re-encode + resize drift) — re-encoded copies
    * of the same asset collapse without any O(N²) comparison.
    */
  def mediaNearDupPairsReal(spark: SparkSession, records: Dataset[MediaRecord],
                            maxHamming: Int = 7): DataFrame =
    Dedup.hammingBandPairsWide(
      realPHashes(spark, records).toDF().select(col("doc_id"), col("phash")),
      "doc_id", "phash", maxHamming, nBands = 8)

  case class MediaHash2(doc_id: Long, phash: Long, phash256: Array[Long],
                        decoded: Boolean)

  /** Both perceptual hashes from ONE decode per asset: the stable
    * low-frequency 64-bit code (the banding/candidate key) and the
    * 256-bit fine code (the confirm metric — see
    * [[MediaCodec.phash256]]'s measured-role note).
    */
  def realPHashes2(spark: SparkSession, records: Dataset[MediaRecord]): Dataset[MediaHash2] = {
    import spark.implicits._
    records.mapPartitions(_.map { r =>
      MediaCodec.decodeImage(r.payload) match {
        case Some(img) =>
          val small = MediaCodec.boxBlur3(
            MediaCodec.areaAvg(MediaCodec.lumaGrid(img), 32))
          // both codes from the SAME blurred grid: one decode, one DCT
          // input; phash256's 16×16 block contains phash64's 8×8
          MediaHash2(r.doc_id, MediaCodec.dctSignHash(small),
            MediaCodec.dctSignHash256(small), decoded = true)
        case None =>
          var h = 1125899906842597L
          var i = 0
          while (i < r.payload.length) { h = 31 * h + (r.payload(i) & 0xff); i += 1 }
          MediaHash2(r.doc_id, h, Array(h, h, h, h), decoded = false)
      }
    })
  }

  /** Two-level perceptual near-dup (the MEASURED operating point —
    * MediaCodecSpec; HISTORY.md, "Perceptual banding: radius against
    * selectivity"): CANDIDATES from the 64-bit code's
    * radius-7 multi-index bands (low-frequency bits drift ≤ 7 under
    * re-encode), CONFIRMED at Hamming ≤ `confirm256` on the 256-bit
    * code, whose dup-vs-distinct gap (≤ 58 / ≥ 94) removes the
    * chance confirms the tight 64-bit gap (≤ 7 / ≥ 12) lets through
    * (~0.4 % of feed in the J16 measurement). Emits both distances
    * so a threshold audit needs no re-decode.
    */
  def mediaNearDupPairsPrecise(spark: SparkSession, records: Dataset[MediaRecord],
                               maxHamming: Int = 7,
                               confirm256: Int = 75): DataFrame = {
    val hashes = graft.operators.TrackedCache.persist(
      realPHashes2(spark, records).toDF()
        .select(col("doc_id"), col("phash"), col("phash256")))
    val cand = Dedup.hammingBandPairsWide(
      hashes.select("doc_id", "phash"), "doc_id", "phash", maxHamming, nBands = 8)
    val ha = hashes.select(col("doc_id").as("a"), col("phash256").as("pa"))
    val hb = hashes.select(col("doc_id").as("b"), col("phash256").as("pb"))
    cand.join(ha, Seq("a")).join(hb, Seq("b"))
      .withColumn("hamming256", expr(
        """aggregate(zip_with(pa, pb, (x, y) -> bit_count(x ^ y)),
           0, (acc, v) -> acc + v)"""))
      .filter(col("hamming256") <= confirm256)
      .select("a", "b", "hamming", "hamming256", "n_bands")
  }

  /** [[mediaNearDupPairsPrecise]] plus the SECOND band pass that
    * closes the measured candidate tail (i5d: 2 of 500 planted dups
    * drift to 64-bit Hamming 8, past the radius-7 exact-band stage —
    * 99.6 % candidate recall): assets left UNMATCHED by pass 1 probe
    * the full print index with Hamming-1 band probing
    * ([[Dedup.hammingBandProbePairs]], lossless to radius 15),
    * keeping pairs in (maxHamming, radius2], each still confirmed on
    * the 256-bit code. The (width+1)× probe fan-out is confined to
    * the residual — the stated i5d lever ("a second pass over
    * first-pass misses, not a wider radius everywhere"): a
    * first-pass-missed pair's endpoints matched nothing, so both
    * live in the residual and the pair is recovered. (A pair whose
    * BOTH endpoints already matched other copies is not re-sought —
    * those assets are already in dup groups; component resolution
    * merges them downstream if their groups share members.)
    * `radius2 = 10` holds margin over the measured drift tail (8)
    * while staying under the measured distinct floor (12); the
    * confirm gate, not the radius, is the precision keeper. Output
    * adds `pass` ('band7' / 'probe') for audit.
    */
  def mediaNearDupPairsPrecise2(spark: SparkSession, records: Dataset[MediaRecord],
                                maxHamming: Int = 7, radius2: Int = 10,
                                confirm256: Int = 75): DataFrame = {
    val hashes = graft.operators.TrackedCache.persist(
      realPHashes2(spark, records).toDF()
        .select(col("doc_id"), col("phash"), col("phash256")))
    val prints = hashes.select("doc_id", "phash")
    val ha = hashes.select(col("doc_id").as("a"), col("phash256").as("pa"))
    val hb = hashes.select(col("doc_id").as("b"), col("phash256").as("pb"))
    def confirm(cand: DataFrame): DataFrame =
      cand.join(ha, Seq("a")).join(hb, Seq("b"))
        .withColumn("hamming256", expr(
          """aggregate(zip_with(pa, pb, (x, y) -> bit_count(x ^ y)),
             0, (acc, v) -> acc + v)"""))
        .filter(col("hamming256") <= confirm256)
        .select("a", "b", "hamming", "hamming256", "n_bands")
    val p1 = graft.operators.TrackedCache.persist(confirm(
      Dedup.hammingBandPairsWide(prints, "doc_id", "phash", maxHamming, nBands = 8)))
    val matched = p1.select(col("a").as("doc_id"))
      .unionByName(p1.select(col("b").as("doc_id"))).distinct()
    val residual = prints.join(matched, Seq("doc_id"), "left_anti")
    val p2 = confirm(Dedup.hammingBandProbePairs(
      residual, prints, "doc_id", "phash", maxHamming, radius2, nBands = 8))
    p1.withColumn("pass", lit("band7"))
      .unionByName(p2.withColumn("pass", lit("probe")))
  }

  /** Resize parameter plumbing (I3): pure-metadata transform computing
    * target dims with aspect preserved. Works on any frame with
    * width/height columns (the oracle-checked path uses I1's
    * metadata); truncating casts mirror the DuckDB `trunc` spelling.
    */
  def planResizeDf(df: DataFrame, params: ResizeParams): DataFrame = {
    val scaleNum = least(lit(params.maxWidth) * lit(1000) / col("width"),
      lit(params.maxHeight) * lit(1000) / col("height"), lit(1000))
    df.withColumn("target_width", (col("width") * scaleNum / 1000).cast("long"))
      .withColumn("target_height", (col("height") * scaleNum / 1000).cast("long"))
  }

  def planResize(features: Dataset[MediaFeatures], params: ResizeParams): DataFrame =
    planResizeDf(features.toDF(), params)

  /** Frame sampling plumbing (I3): split a payload into fixed-stride
    * pseudo-frames per partition batch (stub for video frame-sample).
    */
  def sampleFrames(spark: SparkSession, records: Dataset[MediaRecord],
                   stride: Int, maxFrames: Int): Dataset[FrameSample] = {
    import spark.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        r.payload.grouped(stride).take(maxFrames).zipWithIndex.map {
          case (bytes, idx) => FrameSample(r.doc_id, idx, bytes)
        }
      }
    }
  }

  /** Stub 64-bit perceptual hash (the I4 codec seam): derived
    * deterministically from the payload BYTES via two md5 prefixes
    * recomposed into one long (f4c's signed-safe recompose, so the
    * same value is expressible in any SQL engine). A real pHash
    * (decode → DCT → sign bits) is locality-sensitive; this stub is
    * exact-sensitive — identical payloads collide at Hamming 0,
    * distinct payloads land ~32 bits apart. Everything downstream
    * (banding, the Σ bucket² join, the popcount verify) is the real
    * corpus-scale machinery shared with F4b, and swaps in a true
    * codec at THIS one function.
    */
  def stubPHash64(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = payload.cast("string")
    val t1 = graft.functions.HashFunctions.md5prefix64(s)
    val t2 = conv(substring(md5(s), 16, 15), 16, 10).cast("long")
    t1 + shiftleft(t2.bitwiseAND(lit(7L)), 60) +
      when(t2.bitwiseAND(lit(8L)) =!= 0, lit(Long.MinValue)).otherwise(lit(0L))
  }

  /** Media near-dup pairs (I4): stub-pHash each record row-locally,
    * then [[graft.operators.Dedup.hammingBandPairs]] — the 4×16-bit
    * banded Hamming join. The dedup path a multimodal corpus runs
    * before training: re-ingested / re-encoded copies of the same
    * asset collapse without any O(N²) comparison.
    */
  def mediaNearDupPairs(records: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingBandPairs(
      records.select(col("doc_id"), stubPHash64(col("payload")).as("phash")),
      "doc_id", "phash", maxHamming)

  // ------------------------------------------------------------------
  // I10 — AUDIO near-dup: gain-scaled / requantized copies of one
  // recording collapse via a time-frequency fingerprint (the audio
  // half of the multimodal dedup story, as I9 is the video half).
  // ------------------------------------------------------------------

  /** Per-asset 64-bit audio fingerprints
    * ([[MediaCodec.audioFingerprint64]]): one decode + 64 Goertzel
    * band measurements per asset inside the partition, 8 bytes out —
    * samples never shuffle. Undecodable payloads fall back to the
    * exact-sensitive byte hash, flagged `decoded = false` (the
    * realPHashes convention), so mixed corpora keep flowing.
    */
  def audioFingerprints(spark: SparkSession, records: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import spark.implicits._
    records.mapPartitions(_.map { r =>
      MediaCodec.audioFingerprint64(r.payload) match {
        case Some(h) => MediaHash(r.doc_id, h, decoded = true)
        case None =>
          var h = 1125899906842597L
          var i = 0
          while (i < r.payload.length) { h = 31 * h + (r.payload(i) & 0xff); i += 1 }
          MediaHash(r.doc_id, h, decoded = false)
      }
    })
  }

  /** I10 — audio near-dup pairs: fingerprint per partition, then the
    * 8×8-bit banded Hamming join (I5b's machinery, unchanged).
    * Gain-scaled copies land at Hamming ~0 (the fingerprint compares
    * energies only against their own band's mean) and 8-bit
    * requantized copies within a few bits; genuinely different
    * melodies differ in ~3/4 of their tone windows (~24 bits). Pairs
    * under `maxHamming` share ≥ 13 of 16 tone windows — clips that
    * genuinely sound alike.
    */
  def audioNearDupPairs(spark: SparkSession, records: Dataset[MediaRecord],
                        maxHamming: Int = 7): DataFrame =
    Dedup.hammingBandPairsWide(
      audioFingerprints(spark, records).toDF().select(col("doc_id"), col("phash")),
      "doc_id", "phash", maxHamming, nBands = 8)

  /** I11 — CROSS-MODAL dedup agreement (the F12 treatment across
    * modalities): do the text pass (f3's banded MinHash pairs over
    * captions/metadata) and the perceptual media pass (i5b's banded
    * pHash pairs) find the SAME duplicate pairs on this corpus? The
    * instrument a pipeline owner reads before deciding whether
    * perceptual dedup adds anything over text dedup on THEIR data:
    * high agreement → re-scrapes carry their captions along and the
    * text pass already catches them; low → images get re-posted
    * under fresh text (or captions re-used over fresh images) and
    * the passes are complementary. Output is one row of integer
    * pair-set counts + the set Jaccard — exact by construction.
    * Both inputs must be canonical (a < b) pair frames, which every
    * pair operator in this library emits; the intersection joins two
    * PAIR LISTS, never the corpus.
    */
  def crossModalAgreement(textPairs: DataFrame, mediaPairs: DataFrame): DataFrame = {
    val t = TrackedCache.persist(textPairs.select("a", "b"))
    val m = TrackedCache.persist(mediaPairs.select("a", "b"))
    val both = t.join(m, Seq("a", "b"))
    t.agg(count(lit(1)).as("n_text"))
      .crossJoin(broadcast(m.agg(count(lit(1)).as("n_media"))))
      .crossJoin(broadcast(both.agg(count(lit(1)).as("n_both"))))
      .withColumn("pair_jaccard",
        col("n_both").cast("double") /
          (col("n_text") + col("n_media") - col("n_both")))
  }

  /** I12 — cross-modal CANONICAL selection (what I11 measures,
    * APPLIED): union the text and media pair lists into ONE component
    * graph at asset grain and run P6 keep-best over it — the joint
    * dedup decision a multimodal corpus actually ships. A text-only
    * twin, a media-only twin and a both-modality twin of one asset
    * all collapse into a single cluster and exactly one canonical
    * survives (highest `qualityCol`, ties to the smallest id — P6's
    * deterministic two-stage argmax); an asset neither pass paired
    * stays its own canonical.
    *
    * Scale: the union graph is PAIR-BOUNDED — both inputs are banded
    * candidate pair lists (Σ bucket², never all-pairs), their union
    * is at most their sum, and components run over that edge list
    * alone; the corpus joins in once, by id, for the quality argmax.
    */
  def crossModalCanonical(textPairs: DataFrame, mediaPairs: DataFrame,
                          docs: DataFrame, idCol: String,
                          qualityCol: String): DataFrame = {
    val edges = textPairs.select("a", "b")
      .unionByName(mediaPairs.select("a", "b")).distinct()
    val comp = Dedup.connectedComponents(edges, "a", "b")
      .withColumnRenamed("id", idCol)
    val labeled = docs.join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val best = labeled.groupBy(col("component"))
      .agg(max(col(qualityCol)).as("__bq"), count(lit(1)).as("n_members"))
    labeled.join(best, "component")
      .filter(col(qualityCol) === col("__bq"))
      .groupBy(col("component"), col("__bq"), col("n_members"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("component"), col("keep_id"),
        col("__bq").as("best_quality"), col("n_members"))
  }

  // ------------------------------------------------------------------
  // I9 — SEQUENCE-level (video) dedup: multi-frame assets dedup at the
  // ASSET grain, so re-encoded or trimmed copies of one clip collapse.
  // ------------------------------------------------------------------

  /** Per-asset frame print table (I9's shared decode pass): one row
    * per frame — `(doc_id, frame_idx, phash, n_frames, is_kf)` — with
    * keyframes flagged (frame 0 + each scene cut, I7's selection).
    * ONE decode per asset feeds both the candidate stage (keyframes
    * only: ~scenes rows per asset) and the confirm stage (all
    * frames); only 8-byte prints ever leave the decode partition —
    * pixels never shuffle, the I5b discipline at sequence grain.
    */
  def videoFramePrints(spark: SparkSession, records: Dataset[MediaRecord]): DataFrame = {
    import spark.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodec.gifFramePHashes(r.payload) match {
          case Some(hs) if hs.nonEmpty =>
            // the downstream band join packs (doc_id, frame_idx) as
            // doc_id * 2^20 + frame_idx and unpacks with DIV 2^20 —
            // fail loudly here rather than corrupt asset identity
            require(r.doc_id >= 0 && r.doc_id < (1L << 43),
              s"videoFramePrints: doc_id ${r.doc_id} outside [0, 2^43) breaks the composite key")
            require(hs.length <= 1048576,
              s"videoFramePrints: ${hs.length} frames exceeds the 2^20 frame_idx budget")
            val kf = (0 +: MediaCodec.sceneCuts(hs).toSeq).distinct.toSet
            hs.indices.map(i => (r.doc_id, i, hs(i), hs.length, kf(i)))
          case _ => Seq.empty
        }
      }
    }.toDF("doc_id", "frame_idx", "phash", "n_frames", "is_kf")
  }

  /** I9 — video/sequence near-dup pairs over a [[videoFramePrints]]
    * frame (two-level, the i5c pattern at ASSET grain):
    *
    *  1. CANDIDATES: banded Hamming join over KEYFRAME prints only
    *     (scene-representative frames — ~#scenes rows per asset, so
    *     the banded index carries scenes, not frames). A re-encoded
    *     copy's keyframes sit at drift ~0; a trimmed copy shares every
    *     surviving scene-cut keyframe bit-identically. Asset pairs
    *     with ANY keyframe band match become candidates.
    *  2. CONFIRM by FRAME-SET OVERLAP: candidates (and only they)
    *     join back their full frame print sets; a frame is covered
    *     when some frame of the other asset is within
    *     `confirmHamming`. Confirmed iff the better-covered side
    *     reaches `minCoverPpm` of its frames — a trimmed copy covers
    *     100% of ITSELF (every surviving frame is in the original),
    *     while a spurious single-keyframe band collision between
    *     distinct clips covers ~1/n and dies.
    *
    * Scale shape: candidate volume is Σ bucket² over keyframe bands
    * (never all-pairs); the confirm join fans out n_a·n_b frame pairs
    * PER CANDIDATE only. Output: one row per confirmed unordered
    * asset pair with the coverage evidence.
    */
  def videoNearDupPairs(framePrints: DataFrame, maxHamming: Int = 7,
                        confirmHamming: Int = 10,
                        minCoverPpm: Long = 600000L): DataFrame = {
    val prints = graft.operators.TrackedCache.persist(framePrints)
    // composite (asset, frame) id for the band join; frame_idx < 2^20
    val kf = prints.filter(col("is_kf"))
      .select((col("doc_id") * 1048576L + col("frame_idx")).as("kfid"),
        col("phash"))
    val cand = Dedup.hammingBandPairsWide(kf, "kfid", "phash", maxHamming)
      .select(expr("a DIV 1048576").as("a"), expr("b DIV 1048576").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val fa = prints.select(col("doc_id").as("a"), col("frame_idx").as("fi_a"),
      col("phash").as("ph_a"), col("n_frames").as("n_frames_a"))
    val fb = prints.select(col("doc_id").as("b"), col("frame_idx").as("fi_b"),
      col("phash").as("ph_b"), col("n_frames").as("n_frames_b"))
    cand.join(fa, Seq("a")).join(fb, Seq("b"))
      .withColumn("h", expr("CAST(bit_count(ph_a ^ ph_b) AS INT)"))
      .groupBy("a", "b", "n_frames_a", "n_frames_b")
      .agg(
        countDistinct(when(col("h") <= confirmHamming, col("fi_a")))
          .as("matched_a"),
        countDistinct(when(col("h") <= confirmHamming, col("fi_b")))
          .as("matched_b"))
      .withColumn("cover_ppm", greatest(
        expr("matched_a * 1000000 DIV n_frames_a"),
        expr("matched_b * 1000000 DIV n_frames_b")))
      .filter(col("cover_ppm") >= minCoverPpm)
      .select("a", "b", "n_frames_a", "n_frames_b", "matched_a", "matched_b",
        "cover_ppm")
  }
}
