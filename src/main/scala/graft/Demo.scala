package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaRecord, ResizeParams}
import graft.streaming.AdsbStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end usage demo of the streaming + multimodal surfaces:
  * a parquet-file stream (stand-in for the Kafka feed) through
  * normalize → stateful latest-state, and the batched multimodal
  * feature pipeline. `runMain graft.Demo <sfDir>`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    import spark.implicits._

    // --- Streaming: file-source feed → normalize → latest state ---
    // Stage the events table as a streaming directory source.
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    sources.Tables.events(spark, sfDir)
      .withColumn("hex", concat(lit("icao"), col("user_id").cast("string")))
      .withColumn("flight", upper(col("event_type")))
      .withColumn("lat", col("value") % 90)
      .withColumn("lon", col("value") % 180)
      .withColumn("alt_baro",
        when(col("event_type") === "signup", "ground")
          .otherwise((col("value") * 100).cast("int").cast("string")))
      .withColumn("gs", col("value"))
      .withColumn("source", lit("demo-feed"))
      .withColumn("scrape_time", col("ts"))
      .select("hex", "flight", "lat", "lon", "alt_baro", "gs", "source", "scrape_time")
      .write.mode("overwrite").parquet(streamDir)

    val schema = StructType(Seq(
      StructField("hex", StringType), StructField("flight", StringType),
      StructField("lat", DoubleType), StructField("lon", DoubleType),
      StructField("alt_baro", StringType), StructField("gs", DoubleType),
      StructField("source", StringType), StructField("scrape_time", TimestampType)))

    // Duplicate deliveries simulated by unioning the feed with itself;
    // dedupStream drops them before stateful latest-state.
    val feed = spark.readStream.schema(schema).parquet(streamDir)
    val feed2 = spark.readStream.schema(schema).parquet(streamDir)
    val deduped = AdsbStream.dedupStream(
      AdsbStream.normalize(AdsbStream.combined(Seq(feed, feed2))),
      "1 hour", Seq("icao24"))
    val latest = AdsbStream.latestState(spark, deduped)
    val q = latest.writeStream.format("memory").queryName("demo_latest")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()

    val nLatest = spark.table("demo_latest").select("icao24").distinct().count()
    println(s"[demo] streaming latest-state aircraft: $nLatest")

    // Storage write path: the same normalized stream landing as
    // day-partitioned, key-clustered parquet (the MergeTree layout).
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_demo_sink").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_demo_ckpt").toString
    val sinkQ = AdsbStream.startPartitionedSink(
      AdsbStream.normalize(spark.readStream.schema(schema).parquet(streamDir)),
      "scrape_time", "icao24", sinkDir, ckptDir)
    sinkQ.processAllAvailable(); sinkQ.stop()
    val dayDirs = new java.io.File(sinkDir).listFiles().count(_.getName.startsWith("day="))
    println(s"[demo] streaming sink day partitions: $dayDirs, rows: ${spark.read.parquet(sinkDir).count()}")
    spark.table("demo_latest").orderBy(desc("scrape_time")).show(5, truncate = false)

    // --- Skew-safe aggregation over the same events ---
    val salted = operators.ScaleOps.saltedCount(
      sources.Tables.events(spark, sfDir), "event_type", 8)
    println(s"[demo] salted aggregation groups: ${salted.count()}")

    // --- Full reference-schema pipeline: JSON feed line → storage row ---
    val feedLine =
      """{"hex":" ABC123 ","flight":" BAW12  ","r":"G-ABCD","t":"A320","lat":51.47,
         "lon":-0.45,"alt_baro":"37000","gs":450.5,"nav_modes":[" AUTOPILOT ","","tcas"],
         "source":"local","scrape_time":"2026-01-01T00:00:00Z"}""".replaceAll("\n\\s*", "")
    val storageRow = adsb.AdsbSchemas.normalizeLocal(
      adsb.AdsbSchemas.parseJson(Seq(feedLine).toDF("value"), "value",
        adsb.AdsbSchemas.rawLocalSchema))
    println(s"[demo] local-schema pipeline columns: ${storageRow.columns.length}")
    storageRow.select("icao24", "callsign", "registration", "alt_baro", "ground_speed",
      "nav_modes").show(truncate = false)

    // --- Training-data curation: near-dup pairs → groups → keep set ---
    val docs = sources.Tables.documents(spark, sfDir)
    val pairs = operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 4)
    val groups = operators.Dedup.connectedComponents(pairs, "a", "b")
      .withColumnRenamed("id", "doc_id")
    val kept = docs.join(groups, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("doc_id") === col("component"))
    println(s"[demo] curation: ${docs.count()} docs → ${kept.count()} kept " +
      s"(${groups.count()} in near-dup groups)")

    // --- Bloom-reduced decontamination (runtime-filter pattern) ---
    val banned = docs.filter(col("doc_id") % 50 === 0)
      .select(graft.functions.HashFunctions.md5prefix64(col("text")).as("bfp"))
    val screened = operators.ScaleOps.bloomAntiJoin(
      docs.withColumn("fp", graft.functions.HashFunctions.md5prefix64(col("text"))),
      "fp", banned, "bfp")
    println(s"[demo] bloom decontamination: ${docs.count()} docs → ${screened.count()} clean")

    // --- int8 scalar-quantized ANN with exact rerank ---
    val emb = sources.Tables.embeddings(spark, sfDir)
    val ann = operators.Embeddings.annSqInt8(
      emb, emb.filter(col("vec_id") < 2), "vec_id", "embedding", 10, 3)
    println(s"[demo] int8-SQ ANN hits:")
    ann.show(6)

    // --- Multimodal: binary payloads → batched feature extraction ---
    val media = Multimodal.toMediaRecords(
      sources.Tables.documents(spark, sfDir)
        .withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload").as[MediaRecord]
    val feats = Multimodal.extractFeatures(spark, media)
    val planned = Multimodal.planResize(feats, ResizeParams(256, 256))
    println(s"[demo] media features extracted: ${feats.count()}")
    planned.select("doc_id", "n_bytes", "width", "height", "target_width", "target_height")
      .show(5)

    // --- Media near-dup pairs over the stub perceptual hash ---
    val mediaPairs = Multimodal.mediaNearDupPairs(
      Multimodal.toMediaRecords(docs, "doc_id", "text")
        .unionByName(Multimodal.toMediaRecords(
          docs.filter(col("doc_id") < 3)
            .withColumn("doc_id", col("doc_id") + 90000), "doc_id", "text")))
    println(s"[demo] media near-dup pairs (re-ingest collapse): ${mediaPairs.count()}")

    // --- Data selection: DSIR weights → leakage-safe split → chunks ---
    // the round-7 selection flow: importance-resample toward a target
    // domain, split train/eval at near-dup-component granularity, cut
    // the training side into stride-overlapped context windows
    val selected = SparkEntry.queries("p13_dsir_resampling")(spark, sfDir)
    val split = SparkEntry.queries("p16_leakage_safe_split")(spark, sfDir)
    val trainDocs = selected.join(split.filter(col("split") === "train"), "doc_id")
    val chunks = SparkEntry.queries("h13_window_chunks")(spark, sfDir)
      .join(trainDocs.select("doc_id"), "doc_id")
    println(s"[demo] data selection: top-${selected.count()} DSIR docs, " +
      s"${trainDocs.count()} in the train split, ${chunks.count()} training chunks")

    // --- Heavy hitters: sketch screen + exact verify ---
    val hitters = SparkEntry.queries("e25b_heavy_hitters")(spark, sfDir)
    println(s"[demo] corpus heavy hitters (MG screen + exact verify): ${hitters.count()}")
    hitters.show(5)

    // --- Web-curation front door: URL dedup → quality gate → authority ---
    // the ORDER a production crawl pipeline runs: canonical-URL
    // collapse first (cheapest), the hashed classifier gate on
    // survivors, domain PageRank as the mixture-weighting signal
    val urlGroups = SparkEntry.queries("h15_url_canonicalize")(spark, sfDir)
    val gated = SparkEntry.queries("h14_quality_classifier")(spark, sfDir)
      .filter(col("label"))
    val authority = SparkEntry.queries("p17_domain_pagerank")(spark, sfDir)
    println(s"[demo] web front door: ${urlGroups.count()} canonical URLs, " +
      s"${gated.count()} docs pass the quality gate, " +
      s"top domain rank ${authority.agg(max(col("rank"))).head().getLong(0)}")

    // --- Round-8 additions: exact-substring dedup + trained gate ---
    // the Lee et al. flow: measure duplicated spans at any offset,
    // CUT them, 13-gram-decontaminate the survivors against the eval
    // set, then gate with a classifier TRAINED on this corpus
    val subStats = SparkEntry.queries("f14_substring_dedup")(spark, sfDir)
    val cutDocs = operators.Dedup.substringDedupCut(docs, "doc_id", "text", 50)
    val clean = SparkEntry.queries("p3c_train_decontaminate")(spark, sfDir)
      .filter(col("keep"))
    val trainedW = operators.QualityClassifier.collectWeights(
      operators.QualityClassifier.trainWeights(
        docs, "text", col("source").isin("src18", "src6", "src7"), 64))
    val trainedGate = operators.QualityClassifier
      .applyWeights(docs, "doc_id", "text", trainedW).filter(col("label"))
    val dupToks = subStats.agg(sum(col("n_dup_tokens"))).head().getLong(0)
    val cutToks = cutDocs.agg(sum(col("n_tokens") - col("n_tokens_after")))
      .head().getLong(0)
    println(s"[demo] substring dedup: $dupToks duplicate tokens measured, " +
      s"$cutToks cut; ${clean.count()} train docs survive 13-gram decontamination; " +
      s"${trainedGate.count()} pass the TRAINED quality gate")

    // --- Serving: hybrid retrieval fused, then diversified ---
    val fused = SparkEntry.queries("g13_hybrid_rrf")(spark, sfDir)
    val diverse = SparkEntry.queries("g14_mmr_rerank")(spark, sfDir)
    println(s"[demo] serving: ${fused.count()} RRF-fused results, " +
      s"${diverse.count()} MMR-diversified picks")
    diverse.show(4)

    spark.stop()
  }
}
