package graft.streaming

import graft.adsb.AdsbSchemas
import graft.operators.AdsbNormalize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** J-group (SURVEY §2): the reference's Kafka→MV→Replacing flow as
  * Structured Streaming. The batch normalization transforms
  * (AdsbNormalize) are reused verbatim — the same declarative plan
  * runs over `readStream` sources.
  *
  * Reference flow (/root/reference/schema/schema-local.sql:13-15):
  *   Kafka → MV (normalize+filter) → MergeTree (append log)
  *                                 → ReplacingMergeTree → latest views
  * Spark-native flow:
  *   readStream → [[normalize]] → append sink (day-partitioned parquet)
  *                              → [[latestState]] (stateful) → sink
  *
  * The production source is [[kafkaSource]] →
  * [[fromKafka]]; tests drive the identical downstream plan from
  * MemoryStream frames shaped like Kafka's fixed output schema
  * (source choice is orthogonal to the transforms).
  */
object AdsbStream {

  /** The reference's Kafka engine table (schema-local.sql:26-100
    * `ENGINE = Kafka(kafka_local)`): one topic per feed, earliest
    * offsets on first start, thereafter the checkpoint owns progress.
    * `maxOffsetsPerTrigger` bounds each microbatch so one backlogged
    * topic cannot produce an unboundedly large batch after downtime.
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topic: String,
                  maxOffsetsPerTrigger: Long = 10000000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()

  /** The Kafka-MV chain (schema-local.sql:199-293): value bytes →
    * JSON → wire columns → per-source normalization. Works identically
    * on a [[kafkaSource]] stream or any batch/stream frame with a
    * Kafka-shaped `value: binary` column — all transforms are
    * row-local, so the whole chain fuses into the source microbatch
    * stage (no shuffle before the sink).
    */
  def fromKafka(kafka: DataFrame, schema: StructType,
                normalizeMv: DataFrame => DataFrame): DataFrame =
    normalizeMv(AdsbSchemas.parseJson(
      kafka.select(col("value").cast("string").as("json")), "json", schema))

  /** [[fromKafka]] prewired for the local readsb feed. */
  def localFromKafka(kafka: DataFrame): DataFrame =
    fromKafka(kafka, AdsbSchemas.rawLocalSchema, AdsbSchemas.normalizeLocal)

  /** A raw position report as it arrives from the feed (subset of the
    * reference's Kafka columns, nullable like the wire format).
    */
  case class RawReport(hex: Option[String], flight: Option[String],
                       lat: Option[Double], lon: Option[Double],
                       alt_baro: Option[String], gs: Option[Double],
                       source: String, scrape_time: java.sql.Timestamp)

  case class CurrentPosition(icao24: String, callsign: String,
                             lat: Double, lon: Double, alt_baro: Int,
                             ground_speed: Double, source: String,
                             scrape_time: java.sql.Timestamp)

  /** A document arriving on the ingest stream (J11 screening loop). */
  case class StreamDoc(doc_id: Long, text: String)

  /** The Kafka-MV normalization, streaming-safe (pure row-local
    * transforms — no shuffle, runs in the same microbatch stage as
    * the source).
    */
  def normalize(raw: DataFrame): DataFrame =
    raw.filter(col("hex").isNotNull && col("lat").isNotNull && col("lon").isNotNull &&
        col("lat").between(-90, 90) && col("lon").between(-180, 180))
      .select(
        AdsbNormalize.normKey(col("hex")).as("icao24"),
        AdsbNormalize.normKey(AdsbNormalize.fillString(col("flight"))).as("callsign"),
        col("lat"), col("lon"),
        AdsbNormalize.parseAltBaro(col("alt_baro")).as("alt_baro"),
        AdsbNormalize.fillDouble(col("gs")).as("ground_speed"),
        col("source"), col("scrape_time"))

  /** Windowed position-report rates with a watermark — the Grafana
    * per-interval throughput panels, streaming-native.
    */
  def windowedRates(normalized: DataFrame, watermark: String, window_ : String): DataFrame =
    normalized
      .withWatermark("scrape_time", watermark)
      .groupBy(window(col("scrape_time"), window_), col("source"))
      .agg(count(lit(1)).as("n_reports"),
        approx_count_distinct(col("icao24")).as("n_aircraft"))

  /** ReplacingMergeTree semantics as managed state: one row of state
    * per aircraft, updated when a newer scrape_time arrives, emitted
    * on every change (OutputMode.Update at the sink). State is
    * per-key and O(#aircraft), not O(#reports) — the streaming
    * analogue of the reference's ORDER BY icao24 TTL 1 HOUR table.
    */
  def latestState(spark: SparkSession, normalized: DataFrame): Dataset[CurrentPosition] = {
    import spark.implicits._
    val typed = normalized.as[CurrentPosition]
    typed.groupByKey(_.icao24)
      .flatMapGroupsWithState[CurrentPosition, CurrentPosition](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[CurrentPosition], state: GroupState[CurrentPosition]) =>
          val prev = state.getOption
          val newest = (rows ++ prev.iterator).maxBy(_.scrape_time.getTime)
          state.update(newest)
          val advanced = prev.forall(_.scrape_time.getTime < newest.scrape_time.getTime)
          if (advanced) Iterator.single(newest) else Iterator.empty
      }
  }

  /** [[latestState]] with the reference's state TTL
    * (schema-local.sql:186 `TTL scrape_time + INTERVAL 1 HOUR` on the
    * latest tables): an aircraft unseen for `ttlMs` of EVENT time is
    * dropped from the state store once the watermark passes its
    * expiry — state is bounded by the ACTIVE fleet, not every key
    * ever seen. Observable semantics match ClickHouse: after expiry
    * the key vanishes from current-state, and a later (even
    * older-timestamped) report starts it fresh.
    */
  def latestStateWithTtl(spark: SparkSession, normalized: DataFrame,
                         ttlMs: Long, watermark: String): Dataset[CurrentPosition] = {
    import spark.implicits._
    val typed = normalized.withWatermark("scrape_time", watermark).as[CurrentPosition]
    typed.groupByKey(_.icao24)
      .flatMapGroupsWithState[CurrentPosition, CurrentPosition](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[CurrentPosition], state: GroupState[CurrentPosition]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
            val newest = (rows ++ prev.iterator).maxBy(_.scrape_time.getTime)
            state.update(newest)
            // expiry must sit above the current watermark or Spark
            // rejects it; a key whose whole window is already expired
            // times out at the next possible tick
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs + 1, newest.scrape_time.getTime + ttlMs))
            val advanced = prev.forall(_.scrape_time.getTime < newest.scrape_time.getTime)
            if (advanced) Iterator.single(newest) else Iterator.empty
          }
      }
  }

  /** Combined-sources union (the reference's four *_to_combined MVs):
    * streaming DataFrames union exactly like batch ones.
    */
  def combined(sources: Seq[DataFrame]): DataFrame =
    sources.reduce(_ unionByName _)

  /** Stream-static enrichment: join the position stream against a
    * static dimension (aircraft registry, airline metadata). The
    * static side is broadcast per microbatch — no stream-side shuffle
    * (J6).
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** The MergeTree write path, streaming-side: each microbatch lands
    * day-partitioned and key-clustered, exactly like the batch writer
    * (J7). Readers prune on `day`.
    */
  def startPartitionedSink(normalized: DataFrame, tsCol: String, keyCol: String,
                           path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    normalized.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.CurrentState.withDayPartition(batch, tsCol)
          .repartition(col("day"), col(keyCol))
          .sortWithinPartitions(col("day"), col(keyCol), col(tsCol))
          .write.mode("append").partitionBy("day").parquet(path)
      }
      .start()

  /** Fold one microbatch into the on-disk partial-aggregate-state log
    * (J10 helper, exposed for direct testing). States per (day, key):
    * count, exact-decimal sum, min ts, max value — all mergeable. The
    * log is APPEND-ONLY by batch: each batch owns its `batch_id=`
    * partition and writes it with dynamic partition overwrite, so a
    * failure-replayed batch REPLACES its own states instead of
    * double-counting — idempotent exactly-once without a transaction
    * log. Compaction of old batch partitions is B9's job.
    */
  def mergeBatchIntoAggState(batch: DataFrame, batchId: Long, tsCol: String,
                             keyCol: String, valCol: String, path: String): Unit = {
    // replay of a batch already folded into the compacted segment
    // (J23) must NOOP: its states are durable under the sentinel
    // partition, which dynamic overwrite of batch_id=<id> can't
    // replace — rewriting would double-count on merge-on-read
    if (StreamIndexCompaction.compactedThrough(batch.sparkSession, path) >= batchId)
      return
    batch
      .withColumn("day", date_format(col(tsCol), "yyyyMMdd"))
      .groupBy(col("day"), col(keyCol))
      .agg(count(lit(1)).as("cnt_state"),
        sum(col(valCol).cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_state"),
        min(col(tsCol)).as("min_ts_state"),
        max(col(valCol)).as("max_state"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
  }

  /** Streaming AggregatingMergeTree path (J10): the streaming half of
    * B11 — each microbatch reduces to mergeable partial states before
    * anything lands on disk, so the sink writes one row per
    * (day, key) per batch, not per event.
    */
  def startAggStateSink(normalized: DataFrame, tsCol: String, keyCol: String,
                        valCol: String, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    normalized.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchIntoAggState(batch, batchId, tsCol, keyCol, valCol, path)
      }
      .start()

  /** Merge the partial-state log into per-(day, key) finals — the
    * read side of J10. Because every state is mergeable (sums of
    * counts/decimal sums, min of mins, max of maxes), this equals the
    * one-shot aggregation of every ingested row, touching only state
    * rows — B11's property, maintained incrementally by the stream.
    */
  def readAggState(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("day"), col(keyCol))
      .agg(sum(col("cnt_state")).as("n"),
        sum(col("sum_state")).cast("decimal(18,2)").as("sum_value"),
        min(col("min_ts_state")).as("first_ts"),
        max(col("max_state")).as("max_value"))

  /** Fold one microbatch into the on-disk QUANTILE-sketch partial log
    * (J20 helper — E14e's fixed-grid mergeable quantile sketch as
    * streaming agg-state, by J10's discipline). Each batch reduces to
    * per-(group, grid cell) counts BEFORE anything lands on disk —
    * one row per occupied cell per batch, bounded by value-range·G,
    * never by event count — and owns its `batch_id=` partition via
    * dynamic partition overwrite, so a failure-replayed batch
    * REPLACES its own partials instead of double-counting (idempotent
    * exactly-once without a transaction log). Because the sketch
    * merge is counter ADDITION (commutative, associative), the
    * merge-on-read quantiles are bit-equal to the one-shot batch
    * sketch over every ingested row, under any batch boundaries.
    */
  def mergeBatchIntoQuantileState(batch: DataFrame, batchId: Long,
                                  groupCol: String, valCol: String,
                                  gridPerUnit: Int, path: String): Unit = {
    // J23 replay noop-guard — same double-count argument as J10
    if (StreamIndexCompaction.compactedThrough(batch.sparkSession, path) >= batchId)
      return
    graft.operators.ScaleOps.gridQuantileSketch(batch, groupCol, valCol, gridPerUnit)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
  }

  /** The J20 sink: the streaming percentile dashboard's write side —
    * every microbatch appends its (group, cell) partial counts.
    * Compaction of old batch partitions is B9's job, same as J10.
    */
  def startQuantileStateSink(stream: DataFrame, groupCol: String,
                             valCol: String, gridPerUnit: Int, path: String,
                             checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchIntoQuantileState(batch, batchId, groupCol, valCol,
          gridPerUnit, path)
      }
      .start()

  /** Read side of J20: merge the partial-count log (counter addition
    * per (group, cell) — touching only sketch rows) and read the
    * requested quantiles out at integer ranks, exactly E14e's
    * read-out. Equals the one-shot [[graft.operators.ScaleOps
    * .gridQuantileSketch]]+[[graft.operators.ScaleOps.gridQuantiles]]
    * over every ingested row — the mergeable-summaries property the
    * grid sketch exists for, composed with streaming.
    */
  def readQuantileState(spark: SparkSession, path: String, groupCol: String,
                        qsPercent: Seq[Int]): DataFrame =
    graft.operators.ScaleOps.gridQuantiles(
      spark.read.parquet(path)
        .groupBy(col(groupCol), col("cell")).agg(sum(col("c")).as("c")),
      groupCol, qsPercent)

  /** Fold one microbatch into the on-disk HEAVY-HITTER state (J22 —
    * E25c's CMS screen + exact verify as streaming agg-state,
    * completing the mergeable-state trio: B11 aggregates → J10, E14e
    * quantiles → J20, E25c frequencies → J22). Each batch reduces to
    * TWO mergeable artifacts before anything lands on disk, both
    * under the J10 batch_id discipline (dynamic partition overwrite,
    * replay replaces):
    *
    *  - `$path/sketch`: ONE row — the batch's K25 CMS counter matrix
    *    over the key stream. Rate-independent size (depth×width
    *    longs); merge-on-read is matrix ADDITION
    *    ([[graft.functions.CmsUtil.mergeBytes]]), so the merged
    *    sketch is byte-identical to the one-shot batch sketch under
    *    ANY batch boundaries.
    *  - `$path/counts`: the batch's exact per-key counts (vocabulary
    *    grain, never event grain) — the candidate-verify side.
    *    Merge-on-read is counter addition per key.
    *
    * Read-out ([[readHeavyHitterState]]) replays e25c's composition
    * over STATE rows: the merged matrix screens the merged vocabulary
    * inside the scan (CMS never underestimates ⇒ no false negatives
    * above threshold), and only candidate keys take the exact
    * aggregation — result ≡ the batch e25c heavy-hitter query over
    * every ingested row, the trending-keys dashboard maintained
    * incrementally.
    */
  def mergeBatchIntoHeavyHitterState(batch: DataFrame, batchId: Long,
                                     keyCol: String, path: String,
                                     depth: Int = 4, width: Int = 2048): Unit = {
    import graft.functions.{CmsFunctions, HashFunctions}
    val spark = batch.sparkSession
    // J23 replay noop-guard (both sub-tables compact in lockstep —
    // guard on the sketch side)
    if (StreamIndexCompaction.compactedThrough(spark, s"$path/sketch") >= batchId)
      return
    val keyed = batch.withColumn("h", HashFunctions.md5prefix64(col(keyCol)))
    keyed.agg(CmsFunctions.cmsAgg(col("h"), depth, width).as("sketch"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$path/sketch")
    keyed.groupBy(col(keyCol), col("h")).agg(count(lit(1)).as("cnt"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$path/counts")
  }

  /** The J22 sink: every microbatch folds its matrix + vocabulary
    * counts into the heavy-hitter state.
    */
  def startHeavyHitterSink(stream: DataFrame, keyCol: String, path: String,
                           checkpoint: String, depth: Int = 4,
                           width: Int = 2048)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchIntoHeavyHitterState(batch, batchId, keyCol, path,
          depth, width)
      }
      .start()

  /** Read side of J22: merge the per-batch matrices (driver-side
    * matrix addition over O(batches) ~KBs rows — a sketch collect,
    * not a data collect), screen the merged VOCABULARY state with the
    * merged sketch inside the scan, and exactly verify only the
    * candidates — e25c's screen + verify composition over state rows.
    * Output ≡ the one-shot exact heavy-hitter query (keys whose count
    * × `thresholdDen` exceeds total events) over every ingested row,
    * under any batch boundaries — CMS overcount means the screen has
    * no false negatives, and the exact filter kills its false
    * positives.
    */
  def readHeavyHitterState(spark: SparkSession, path: String, keyCol: String,
                           thresholdDen: Long = 1500L): DataFrame = {
    import graft.functions.{CmsFunctions, CmsUtil}
    val merged = spark.read.parquet(s"$path/sketch")
      .select("sketch").collect().map(_.getAs[Array[Byte]](0))
      .reduce(CmsUtil.mergeBytes)
    val counts = spark.read.parquet(s"$path/counts")
    val n = counts.agg(sum(col("cnt"))).head().getLong(0)
    counts
      .filter(CmsFunctions.cmsEstimate(merged, col("h")) * thresholdDen > n)
      .groupBy(col(keyCol)).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") * thresholdDen > n)
      .select(col(keyCol), col("cnt"))
  }

  /** Compact both J22 sub-tables (the J23 treatment): counts merge by
    * per-key addition; sketch rows merge by driver-side matrix
    * addition into ONE segment row — read-out unchanged by either.
    */
  def compactHeavyHitterState(spark: SparkSession, path: String,
                              keyCol: String, keepRecent: Int = 2): Unit = {
    import graft.functions.CmsUtil
    // SKETCH FIRST: the replay noop-guard reads the sketch marker, so
    // once it advances a folded replay can no longer rewrite its
    // counts partition either — a crash between the two compactions
    // leaves counts uncompacted (converges next run), never
    // double-counted
    StreamIndexCompaction.compactIndex(spark, s"$path/sketch", keepRecent,
      merge = seg => {
        import spark.implicits._
        // O(batches) ~KBs matrix rows — driver-bounded by design
        val m = seg.select("sketch").collect()
          .map(_.getAs[Array[Byte]](0))
        if (m.isEmpty) seg
        else Seq(m.reduce(CmsUtil.mergeBytes)).toDF("sketch")
      })
    StreamIndexCompaction.compactIndex(spark, s"$path/counts", keepRecent,
      merge = seg => seg.groupBy(col(keyCol), col("h"))
        .agg(sum(col("cnt")).as("cnt")))
  }

  /** Fold one microbatch of vectors into the cell-partitioned
    * streaming ANN index (J21 helper — G3c/G7b's IVF serving made
    * INCREMENTAL, the way J11 makes F3's screen incremental): each
    * vector's coarse cell is a ROW-LOCAL compiled fold over the
    * trained codebook literals
    * ([[graft.functions.VectorFunctions.ivfCellFold]] — zero joins,
    * zero shuffle; the only exchange is the partitioned write), and
    * the batch owns its `batch_id=` partition via dynamic overwrite
    * (J10's replay idempotence). The index lays out as
    * `batch_id=…/cell=…` so the SERVING scan prunes to probed cells.
    */
  def ingestVectorBatch(batch: DataFrame, batchId: Long, idCol: String,
                        vecCol: String, codebook: Seq[Array[Double]],
                        path: String): Unit = {
    // J23 replay noop-guard: a folded batch's vectors are already in
    // the segment; re-ingesting them would duplicate serving rows
    if (StreamIndexCompaction.compactedThrough(batch.sparkSession, path) >= batchId)
      return
    batch.select(col(idCol).as("vid"), col(vecCol).as("vec"),
        graft.functions.VectorFunctions.ivfCellFold(col(vecCol), codebook)
          .as("cell"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cell")
      .parquet(path)
  }

  /** The J21 sink: vectors arriving on a stream accumulate into the
    * cell-partitioned ANN index, exchange-free on the assignment side.
    */
  def startVectorIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                            codebook: Seq[Array[Double]], path: String,
                            checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestVectorBatch(batch, batchId, idCol, vecCol, codebook, path)
      }
      .start()

  /** Serve ANN queries from the J21 streaming index: probe cells come
    * from the same codebook fold
    * ([[graft.functions.VectorFunctions.ivfProbeCells]]); the query
    * set is driver-known and small (a serving call), so its distinct
    * probe-cell set — ≤ queries·nprobe values — is collected and
    * PUSHED INTO THE SCAN as a partition filter: only probed `cell=`
    * directories are ever read, whatever the index has grown to.
    * Scoring mirrors [[graft.operators.Embeddings.annIvfFold]]
    * (broadcast queries, cosine, per-query rank window), so at
    * nprobe = 1 the result is row-identical to the batch operator
    * over the same vectors — the spec's parity claim.
    */
  def annServeFromIndex(spark: SparkSession, path: String, queries: DataFrame,
                        codebook: Seq[Array[Double]], idCol: String,
                        vecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    import graft.functions.VectorFunctions
    val probed = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      explode(VectorFunctions.ivfProbeCells(col(vecCol), codebook, nprobe))
        .as("cell"))
    val cells = probed.select("cell").distinct().collect()
      .map(_.get(0)).toSeq
    val idx = spark.read.parquet(path).filter(col("cell").isin(cells: _*))
    val scored = idx.select(col("vid").as("cid"), col("vec").as("cvec"),
        col("cell"))
      .join(broadcast(probed), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cell", "cos")
  }

  /** Fold one microbatch of CURATED docs into the on-disk training
    * shard store (J24 helper — P25's shard writer under the J10
    * batch_id discipline: the pipeline's OUTPUT artifact maintained
    * by the stream, closing the streaming curation loop end-to-end).
    * Packing is BATCH-SCOPED: P4's deterministic token-budget prefix
    * sum runs over this batch's doc_ids, so shard identity is
    * (batch_id, shard) and a failure-replayed batch — deterministic
    * by the exactly-once contract — re-plans the IDENTICAL shards and
    * dynamic partition overwrite replaces them byte-for-byte (an
    * overwrite-or-noop, never a duplicate). The planned manifest
    * lands beside the shards under the same batch_id partition, so
    * manifest and data cannot drift under replay.
    *
    * Scale: per batch, one prefix sum over batch rows + one shuffle
    * to shard files + one shard-grain manifest aggregate; nothing is
    * driver-collected, and shard files are token-budget-sized —
    * the small-file pressure is bounded by batch docs / budget, and
    * the training reader consumes (batch_id, shard) dirs directly.
    */
  def emitShardBatch(batch: DataFrame, batchId: Long, path: String,
                     tokensPerShard: Long =
                       graft.operators.ShardWriter.TokensPerShard): Unit = {
    import graft.operators.ShardWriter
    // LOCAL persist (not TrackedCache, which retains entries until an
    // explicit release — a leak at streaming cadence): the plan fans
    // out to BOTH writes, and without it each would recompute the
    // token counts, doc hashes and prefix sum from the raw batch
    val planned = ShardWriter
      .planShards(batch.select("doc_id", "text", "source"), tokensPerShard)
      .withColumn("batch_id", lit(batchId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Replay hygiene: dynamic overwrite replaces only the shard
      // partitions the NEW plan produces. If a replay ever plans
      // FEWER shards for this batch (tokensPerShard changed between
      // attempts — outside the determinism contract but cheap to
      // heal), the old higher-numbered shard dirs would survive as
      // orphans while the batch's manifest partition is fully
      // replaced, surfacing only later as audit failures. Prune any
      // existing shard= dir of THIS batch above the new plan's max
      // before writing; shard ids are a contiguous 0..max prefix sum,
      // so the numeric bound is the exact stale set. One tiny
      // driver-side max over the already-persisted plan.
      // Empty microbatch ⇒ max() is NULL; getLong would NPE and kill
      // the streaming query. -1 makes every existing shard= dir of
      // this batch "stale" (correct: a replay that plans zero rows
      // owns zero shards) and the writes below no-op.
      val maxRow = planned.agg(max(col("shard"))).head
      val maxShard = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
      val batchDir = new org.apache.hadoop.fs.Path(
        s"$path/shards/batch_id=$batchId")
      val fs = batchDir.getFileSystem(
        batch.sparkSession.sessionState.newHadoopConf())
      if (fs.exists(batchDir)) fs.listStatus(batchDir).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("shard=") &&
            scala.util.Try(nm.stripPrefix("shard=").toLong)
              .toOption.exists(_ > maxShard))
          fs.delete(st.getPath, true)
      }
      planned
        .select("doc_id", "text", "source", "n_tokens", "doc_hash",
          "batch_id", "shard")
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("doc_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "shard")
        .parquet(s"$path/shards")
      ShardWriter.manifestOf(planned, Seq("batch_id", "shard"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(s"$path/manifest")
    } finally planned.unpersist(false)
  }

  /** The J24 sink: every microbatch of curated docs becomes
    * token-budget-packed training shards plus their manifest rows.
    */
  def startShardEmitterSink(docs: DataFrame, path: String,
                            checkpoint: String,
                            tokensPerShard: Long =
                              graft.operators.ShardWriter.TokensPerShard)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        emitShardBatch(batch, batchId, path, tokensPerShard)
      }
      .start()

  /** Read side of J24 — the shard AUDIT: recompute every shard's
    * manifest from the read-back file CONTENTS alone (tokens and
    * hashes re-derived, only the (batch_id, shard) layout trusted)
    * and join it against the planned manifest written at emit time.
    * `content_match`/`token_match` false means a shard was corrupted
    * or tampered after emission; a missing side means data/manifest
    * drifted — P25's round-trip proof, maintained incrementally.
    */
  def auditShardStore(spark: SparkSession, path: String): DataFrame = {
    import graft.operators.ShardWriter
    val planned = spark.read.parquet(s"$path/manifest")
      .select(col("batch_id").cast("long").as("batch_id"),
        col("shard"), col("n_docs").as("p_docs"),
        col("n_tokens").as("p_tokens"), col("content_hash").as("p_hash"))
    val actual = ShardWriter.manifestOf(
      spark.read.parquet(s"$path/shards"), Seq("batch_id", "shard"))
    actual.join(planned, Seq("batch_id", "shard"), "full_outer")
      .withColumn("content_match",
        col("p_hash").isNotNull && col("content_hash").isNotNull &&
          col("p_hash") === col("content_hash"))
      .withColumn("token_match",
        col("p_tokens").isNotNull && col("n_tokens").isNotNull &&
          col("p_tokens") === col("n_tokens") &&
          col("p_docs") === col("n_docs"))
      .select("batch_id", "shard", "n_docs", "n_tokens",
        "content_match", "token_match")
  }

  /** Fold one microbatch into the on-disk TOKEN-DISTRIBUTION state
    * log (J25 helper — H22's drift monitor as streaming agg-state by
    * the J10 discipline, the scenario the instrument exists for: a
    * new crawl lands batch by batch and the owner watches which
    * source moves). Each batch reduces to (slice, token, count) at
    * DISTINCT grain BEFORE anything lands on disk — vocabulary-sized,
    * never token-occurrence-sized — and owns its `batch_id=`
    * partition via dynamic partition overwrite (replayed batches
    * replace their partials; the J23 noop guard covers folded ones).
    * Counter addition is the merge, so the read-out report is
    * bit-equal to batch H22 over every ingested doc, under ANY batch
    * boundaries.
    */
  def mergeBatchIntoTokenState(batch: DataFrame, batchId: Long,
                               sliceCol: String, textCol: String,
                               path: String): Unit = {
    if (StreamIndexCompaction.compactedThrough(batch.sparkSession, path) >= batchId)
      return
    batch
      .select(col(sliceCol), explode(
        graft.operators.TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col(sliceCol), col("w")).agg(count(lit(1)).as("c_s"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
  }

  /** The J25 sink: every microbatch appends its (slice, token)
    * partial counts. Compaction of closed batches is J23's job (the
    * optional merge hook collapses segments to one row per key).
    */
  def startTokenStateSink(docs: DataFrame, sliceCol: String,
                          textCol: String, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchIntoTokenState(batch, batchId, sliceCol, textCol, path)
      }
      .start()

  /** Read side of J25: merge the partial-count log (counter addition
    * per (slice, token) — state rows only) and read the H22 drift
    * report out of it. Equals the one-shot
    * [[graft.operators.TextOps.tokenDriftReport]] over every ingested
    * doc — the shared [[graft.operators.TextOps.driftReportFromCounts]]
    * core guarantees there is one report implementation, no drift
    * possible.
    */
  def readDriftReport(spark: SparkSession, path: String,
                      sliceCol: String): DataFrame =
    graft.operators.TextOps.driftReportFromCounts(
      spark.read.parquet(path)
        .groupBy(col(sliceCol), col("w")).agg(sum(col("c_s")).as("c_s")),
      sliceCol)

  /** Fold one microbatch into the streaming NEAR-DUP GROUP state
    * (J26 — F7's connected components + P6's canonical selection made
    * incremental, closing the keep-FIRST → keep-BEST gap J11 leaves:
    * the screen DROPS later twins, so the kept doc is the earliest,
    * not the best). Two on-disk logs under `path`, both batch_id=
    * partitioned by the J10 discipline:
    *
    *  - `bands/` — EVERY doc's band rows (not survivor-only: group
    *    members must stay matchable, a dropped doc's future twins
    *    belong in its cluster),
    *  - `labels/` — the mergeable LABEL log: (id, label) rows for
    *    PAIRED docs only (singletons are implicit — their label is
    *    their own id), where label = the component's min doc id and
    *    merge = MIN per doc. Min commutes, so read-out is one
    *    aggregation and the J23 fold hook is the same min.
    *
    * Per batch: row-local fingerprints; candidate edges against the
    * band index (new↔history) plus the in-batch self-join (new↔new);
    * old endpoints collapse to their CURRENT resolved label (one
    * pass over the label log — state-rows-sized, near-dup-bounded);
    * then components over that PAIR-BOUNDED subgraph assign labels.
    * The one case pure min-merge cannot settle in-batch — a batch
    * BRIDGING two existing components — triggers the bounded
    * reconciliation: every member of each LOWERED component gets a
    * fresh (member, new_label) row in THIS batch's partition, so the
    * per-doc min is the true component min after every batch (the
    * induction the parity spec replays). Reconciliation touches only
    * the affected components' rows — pair-bounded, never the corpus.
    *
    * Replay: dynamic partition overwrite on both logs + the J23
    * noop-guard; reads exclude the current batch id, so a replay
    * never screens against its own half-written first attempt.
    * Read-out parity: [[readNearDupLabels]] ≡ batch
    * [[graft.operators.Dedup.connectedComponents]] over the SAME
    * banded edge set on the union of all batches (the edge sets are
    * identical by construction: a cross-batch pair meets when the
    * later doc arrives, an in-batch pair in its self-join).
    */
  def labelBatchIntoGroupState(batch: DataFrame, batchId: Long, idCol: String,
                               textCol: String, n: Int, path: String,
                               bandFn: (DataFrame, String, String, Int) => DataFrame =
                                 graft.operators.Dedup.minhashBandsRowLocal): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bandsPath = s"$path/bands"
    val labelsPath = s"$path/labels"
    if (StreamIndexCompaction.compactedThrough(spark, labelsPath) >= batchId)
      return
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bands = bandFn(batch, idCol, textCol, n)
      .persist(lvl)
    val priorBands =
      try spark.read.parquet(bandsPath)
        .filter(col("batch_id") =!= batchId)
        .select(col(idCol).as("__old"), col("band"), col("sig"))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Seq.empty[(Long, Int, Long)].toDF("__old", "band", "sig") }
    val priorLabels =
      try spark.read.parquet(labelsPath)
        .filter(col("batch_id") =!= batchId)
        .groupBy(col(idCol)).agg(min(col("label")).as("label"))
        .persist(lvl)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Seq.empty[(Long, Long)].toDF(idCol, "label") }
    try {
      // candidate edges, old endpoints collapsed to their resolved label
      val oldEdges = bands.join(priorBands, Seq("band", "sig"))
        .select(col(idCol).as("a"), col("__old")).distinct()
        .join(priorLabels.select(col(idCol).as("__old"),
          col("label").as("__ol")), Seq("__old"), "left")
        .select(col("a"), coalesce(col("__ol"), col("__old")).as("b"))
      val l = bands.select(col(idCol).as("a"), col("band"), col("sig"))
      val r = bands.select(col(idCol).as("b"), col("band"), col("sig"))
      val newEdges = l.join(r, Seq("band", "sig"))
        .filter(col("a") < col("b")).select("a", "b")
      val edges = oldEdges.unionByName(newEdges).distinct().persist(lvl)
      try {
        val comp = graft.operators.Dedup
          .connectedComponents(edges, "a", "b").persist(lvl)
        try {
          val newIds = batch.select(col(idCol).as("id"))
          val newRows = comp.join(newIds, "id")
            .select(col("id").as(idCol), col("component").as("label"))
          // bridged components: an OLD label node whose subgraph
          // component is smaller was merged under a new min — every
          // member it governed gets a fresh row (bounded: only
          // affected components), plus the label doc itself (it may
          // have no rows of its own — first pairing of an indexed
          // singleton)
          val lowered = comp.join(newIds, Seq("id"), "left_anti")
            .filter(col("component") < col("id"))
            .select(col("id").as("__oldLabel"), col("component").as("label"))
          val memberRows = priorLabels
            .join(lowered, priorLabels("label") === lowered("__oldLabel"))
            .select(priorLabels(idCol), lowered("label"))
          val selfRows = lowered.select(col("__oldLabel").as(idCol), col("label"))
          newRows.unionByName(memberRows).unionByName(selfRows).distinct()
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(labelsPath)
        } finally comp.unpersist(false)
      } finally edges.unpersist(false)
      bands.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(bandsPath)
    } finally { bands.unpersist(false); priorLabels.unpersist(false) }
  }

  /** Read side of J26: resolve the label log to (id, label) — one
    * MIN per doc, after synthesizing each label's own self-row (a
    * component's min member may carry no explicit row: its id IS the
    * label others point at). Returns PAIRED docs only, exactly
    * [[graft.operators.Dedup.connectedComponents]]' node set over
    * the union of batches (parity spec-pinned).
    */
  def readNearDupLabels(spark: SparkSession, path: String,
                        idCol: String): DataFrame = {
    import spark.implicits._
    // a stream that never produced a pair has an empty (or absent)
    // label log — the read-out is the empty frame, not a crash
    // (every doc is its own singleton; canonicalFromLabels coalesces)
    val log =
      try spark.read.parquet(s"$path/labels").select(col(idCol), col("label"))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Seq.empty[(Long, Long)].toDF(idCol, "label") }
    log.unionByName(log.select(col("label").as(idCol), col("label")).distinct())
      .groupBy(col(idCol)).agg(min(col("label")).as("label"))
  }

  /** P6 keep-best over the streamed labels (the canonical-selection
    * read-out J26 exists for): per cluster, the highest-`qualityCol`
    * member wins, ties to the smallest id — P6's exact two-stage
    * deterministic argmax, over clusters the STREAM discovered.
    * `docs` supplies (id, quality); unpaired docs are their own
    * cluster (kept, size 1).
    */
  def canonicalFromLabels(spark: SparkSession, path: String, docs: DataFrame,
                          idCol: String, qualityCol: String): DataFrame = {
    val labeled = docs
      .join(readNearDupLabels(spark, path, idCol), Seq(idCol), "left")
      .withColumn("label", coalesce(col("label"), col(idCol)))
    val best = labeled.groupBy(col("label"))
      .agg(max(col(qualityCol)).as("__bq"), count(lit(1)).as("n_members"))
    labeled.join(best, "label")
      .filter(col(qualityCol) === col("__bq"))
      .groupBy(col("label"), col("__bq"), col("n_members"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("label").as("component"), col("keep_id"),
        col("__bq").as("best_quality"), col("n_members"))
  }

  /** F16 SoftDeDup reweighting over the STREAMED labels (the other
    * half of J26's read-out: P6 picks one canonical per cluster,
    * this keeps every copy at weight 1/cluster-size — batch F16's
    * exact frame, over clusters the STREAM discovered): per doc, its
    * resolved label (singletons are themselves), the cluster size as
    * a count window on the ONE label shuffle, the integer ppm weight
    * and the effective token contribution — the frame a sampler
    * joins at training time, maintained without ever re-running
    * batch components over the accumulated corpus. Integer
    * arithmetic end-to-end, identical to f16's spelling, so the
    * parity spec compares frames directly.
    */
  def softWeightsFromLabels(spark: SparkSession, path: String,
                            docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
    docs.select(col(idCol),
        org.apache.spark.sql.functions.size(
          graft.operators.TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(readNearDupLabels(spark, path, idCol), Seq(idCol), "left")
      .withColumn("label", coalesce(col("label"), col(idCol)))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("weight_ppm", expr("1000000L div cluster_size"))
      .withColumn("eff_tokens",
        expr("(n_tokens * (1000000L div cluster_size)) div 1000000L"))
      .select(col(idCol), col("label").as("component"), col("cluster_size"),
        col("weight_ppm"), col("n_tokens"), col("eff_tokens"))
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(startUs: Long, endUs: Long, n: Int)
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Streaming sessionization (J8) — the batch D7 sessionizer as
    * managed state: events accumulate into a per-key open session;
    * a session closes when the event-time gap exceeds `gapMinutes`,
    * either observed within a batch or via EventTimeTimeout once the
    * watermark passes session end + gap (so state is bounded by the
    * number of ACTIVE keys, and closed sessions emit exactly once —
    * OutputMode.Append at the sink).
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int,
                 watermark: String): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.startUs, s.endUs, s.n))
          } else {
            // Micro-batch rows are not order-guaranteed; sort by event time.
            val ts = rows.map(_.ts.getTime * 1000L).toArray.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            ts.foreach { t =>
              cur = cur match {
                case Some(s) if t - s.endUs <= gapUs =>
                  Some(OpenSession(s.startUs, t, s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(uid, s.startUs, s.endUs, s.n)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Late/redelivered rows can leave session end + gap at or
              // below the current watermark; Spark rejects such a timeout.
              // Clamp above the watermark so the stale session times out
              // (and closes) at the next possible tick instead of killing
              // the query — same guard as latestStateWithTtl.
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1,
                s.endUs / 1000L + gapMinutes * 60000L))
            }
            closed.reverse.iterator
          }
      }
  }

  /** Stream-stream interval join (J9) — correlate two live feeds on a
    * key within a time tolerance (e.g. match each local-feed position
    * to opensky reports of the same aircraft within ±`tolerance` —
    * the cross-feed validation behind the reference's combined
    * tables). Both sides carry watermarks and the join condition
    * bounds `rightTs` relative to `leftTs`, so Spark can expire join
    * state: buffered rows are dropped once the other side's watermark
    * passes their match window — state is bounded by rate × window,
    * not stream history. The right frame's columns must be disjoint
    * from the left's (rename upstream); the key columns stay separate
    * so both survive into the output.
    */
  /** `joinType` additionally admits "leftOuter"/"rightOuter"/
    * "fullOuter": unmatched rows emit (right/left columns null) once
    * the watermark passes their match window — feed-gap detection
    * (which aircraft did feed B miss?) with the same bounded state.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String, watermark: String,
                   tolerance: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
          $rightTs >= $leftTs - INTERVAL $tolerance AND
          $rightTs <= $leftTs + INTERVAL $tolerance"""), joinType)
  }

  /** Streaming exact dedup of repeated feed deliveries (at-least-once
    * Kafka redeliveries, overlapping scrapes): duplicates of
    * (key, scrape_time) are dropped as long as they arrive within the
    * watermark — state is bounded by the watermark window, not the
    * stream's history (J5).
    */
  def dedupStream(normalized: DataFrame, watermark: String, keys: Seq[String]): DataFrame =
    normalized
      .withWatermark("scrape_time", watermark)
      .dropDuplicatesWithinWatermark(keys :+ "scrape_time")

  /** One step of the streaming incremental-dedup LOOP (J11 — the
    * streaming closure of F9, exposed for direct testing): the
    * microbatch (1) fingerprints row-locally (`minhashBandsRowLocal`
    * — a pure map stage, no stateful aggregation inside the batch),
    * (2) SCREENS against every band row of PRIOR batches in the
    * on-disk index (a doc sharing ≥1 band signature with history is
    * a near-dup and is dropped; survivors land under the batch's own
    * partition), and (3) APPENDS the SURVIVORS' band rows to the
    * index under `batch_id=<id>` with dynamic partition overwrite —
    * J10's replay-idempotency pattern: a failure-replayed batch
    * REPLACES its own band rows and survivor rows rather than
    * duplicating them, and the `batch_id != current` read filter
    * keeps a replay from screening against its own half-written
    * first attempt.
    *
    * Survivor-only indexing is the canonical-set semantics (new docs
    * compare against the KEPT corpus, not against documents already
    * dropped as dups), and it is what keeps the index linear in
    * unique content rather than in raw feed rows — at a 30–50 % feed
    * dup rate that halves the 100 TB index. A screened dup's future
    * twins still hit its canonical's bands (identical text ⇒
    * identical sigs); only a chain A~B, B~C, A!~C transitively
    * escapes, which is the same declared approximation as batch F9's
    * band screen. At scale the index read is
    * [[graft.operators.Dedup.writeBandIndex]]'s bucketed layout; the
    * loop shape is identical.
    *
    * `bandFn` is the FINGERPRINT FAMILY parameter: the classic
    * row-local 16-hash extraction by default, or
    * [[graft.operators.Dedup.onePermBandsRowLocal]] (the K23-era OPH
    * kernel — same (id, band, sig) schema, ~16× less per-shingle
    * arithmetic) for feeds where fingerprinting dominates the
    * microbatch budget. The index on disk is family-specific: pick
    * one per index path.
    */
  def screenAndIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
                          textCol: String, n: Int, indexPath: String,
                          survivorsPath: String,
                          bandFn: (DataFrame, String, String, Int) => DataFrame =
                            graft.operators.Dedup.minhashBandsRowLocal): Unit = {
    val spark = batch.sparkSession
    // J23 replay noop-guard: a folded batch's survivors/bands are
    // durable in the sentinel segment — rerunning would both
    // duplicate them AND screen the batch against its own first
    // attempt (the segment evades the batch_id != current filter)
    if (StreamIndexCompaction.compactedThrough(spark, indexPath) >= batchId)
      return
    // materialize bands + dupIds once for the two writes (the J14
    // substringScreenBatch discipline): unpersisted, the index write
    // re-ran the whole MinHash banding AND re-read + re-joined the
    // prior index — 2× the batch's dominant compute, every batch
    val bands = bandFn(batch, idCol, textCol, n).persist()
    val priorBands =
      try spark.read.parquet(indexPath)
        .filter(col("batch_id") =!= batchId)
        .select("band", "sig")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        // first batch: no index yet
        import spark.implicits._
        Seq.empty[(Int, Long)].toDF("band", "sig")
      }
    val dupIds = bands.join(priorBands, Seq("band", "sig"))
      .select(col(idCol)).distinct().persist()
    dupIds.count()
    try {
      val survivors = batch.join(dupIds, Seq(idCol), "left_anti")
      survivors.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(survivorsPath)
      bands.join(dupIds, Seq(idCol), "left_anti")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexPath)
    } finally {
      dupIds.unpersist()
      bands.unpersist()
    }
  }

  /** Streaming bloom-screened decontamination (J12 — the streaming
    * face of B12b): an ingest stream is screened against a STATIC
    * blacklist (benchmark fingerprints, banned document hashes)
    * whose keys are folded into one K17 bloom bitset at plan time.
    * Rows FAILING the probe are definite non-members and flow
    * through as a pure map-side filter — no join state, no shuffle,
    * which at full feed rate is ~all of them. Only the might-contain
    * sliver (true hits + FPP·rate) takes the exact stream-static
    * join; bloom false positives are restored by the null-side
    * filter, so the output is bit-exact equal to a plain
    * stream-static anti join. (Spelled as left_outer + IS NULL: the
    * stream-static join matrix guarantees left-outer with a static
    * right side, and it is stateless — the static side is just
    * re-broadcast per microbatch.)
    */
  def bloomScreenStream(stream: DataFrame, keyCol: String,
                        staticKeys: DataFrame, staticKeyCol: String,
                        numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomFunctions._
    val bytes = staticKeys.agg(bloomAgg(col(staticKeyCol), numBits, numHashes))
      .head().getAs[Array[Byte]](0)
    val definite = stream.filter(!bloomMightContain(bytes, col(keyCol)))
    val marker = staticKeys.select(col(staticKeyCol).as(keyCol))
      .withColumn("__hit", lit(1))
    val maybe = stream.filter(bloomMightContain(bytes, col(keyCol)))
      .join(marker, Seq(keyCol), "left_outer")
      .filter(col("__hit").isNull).drop("__hit")
    definite.unionByName(maybe)
  }

  /** Streaming quality gate (J13 — the streaming face of H14): score
    * each arriving document with the hashed linear classifier and
    * keep only positive-margin docs. Stateless map-side work — the
    * token explode, bucket hash and weight lookup all live inside the
    * microbatch's scan stage, the weight vector is a codegen literal,
    * and the only aggregation is per-doc WITHIN the batch (no cross-
    * batch state, no watermark needed) — so the gate runs at full
    * feed rate and composes in front of the J11 screening loop the
    * way a production pipeline orders its passes: cheap score gate
    * first, fingerprint dedup on survivors. Scores are bit-identical
    * to the batch h14 spelling (same kernel, same weights; spec
    * replays a batch of docs through both paths).
    */
  def qualityGateStream(docs: DataFrame, idCol: String, textCol: String,
                        weights: Seq[Long], k: Int = 64): DataFrame = {
    // row-local kernel, NOT explode+groupBy: a streaming groupBy
    // keyed by doc would be a stateful aggregation (unbounded
    // doc-keyed state, append-mode watermark headaches) for what is
    // logically per-row arithmetic; K24 runs tokenize + hash + weight
    // sum in one compiled pass (the HOF-fold spelling evaluated its
    // lambda interpreted per token)
    require(weights.length == k, s"weight vector must have $k entries")
    docs.select(col(idCol), col(textCol))
      .withColumn("__cs",
        graft.functions.HashFunctions.classifierScore(col(textCol), weights))
      .withColumn("n_tokens", col("__cs.n_tokens"))
      .withColumn("score", col("__cs.score"))
      .drop("__cs")
      .filter(col("score") > 0)
  }

  /** Streaming Gopher+C4 rule gate (J15 — the streaming face of H17):
    * apply the published composite rule battery
    * ([[graft.operators.QualityRules.withRuleColumns]]) to each
    * arriving document and keep only docs passing the requested rule
    * set. Stateless row-local HOF/regex work inside the microbatch's
    * scan stage — no explode-groupBy, no watermark, composes in
    * front of the screening loops like [[qualityGateStream]] (the
    * learned gate) but with the CITED rule semantics a curation team
    * publishes. `requireC4 = false` gates on the Gopher family only.
    */
  def gopherGateStream(docs: DataFrame, idCol: String, textCol: String,
                       requireC4: Boolean = true): DataFrame = {
    val ruled = graft.operators.QualityRules
      .withRuleColumns(docs.select(col(idCol), col(textCol)), textCol)
    val gate = if (requireC4) col("pass") else col("gopher_pass")
    ruled.filter(gate)
      .select(col(idCol), col(textCol), col("n_words"), col("first_fail"))
  }

  /** Streaming FineWeb/DCLM line-rule gate (the streaming face of
    * H21, by J15's pattern): apply the 2024 line-level battery
    * ([[graft.operators.QualityRules.withFineWebColumns]]) to each
    * arriving document and keep only passing docs. Stateless
    * row-local HOF/regex work inside the microbatch's scan stage —
    * composes with the Gopher gate (J15) as a second published rule
    * generation in front of the screening loops.
    */
  def fineWebGateStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.QualityRules
      .withFineWebColumns(docs.select(col(idCol), col(textCol)), textCol)
      .filter(col("fw_pass"))
      .select(col(idCol), col(textCol), col("n_lines"), col("fw_first_fail"))

  /** Streaming MIXING gate (J18 — the streaming face of P5/P11): the
    * hash-vs-threshold keep rule applied per arriving document, so
    * the published curation order (paragraph cut → quality gates →
    * decontamination → dedup → MIX to target rates) closes end-to-end
    * in streaming form. Keep iff
    * `md5prefix64(salt || id) mod 1e6 < ratePpm(class)` — the
    * deterministic P5 decision: no RNG state, no shuffle, no
    * watermark, a pure map-side filter at feed rate, and rerun- and
    * replay-stable by construction (the same doc id keeps or drops
    * identically in any batch, on any partitioning — exactly why the
    * batch spelling is oracle-able and the streaming one needs no
    * state). Rates arrive as published-artifact literals (a CASE
    * chain in the scan, the classifier-weights contract) — P11's
    * corpus-adaptive thresholds are computed batch-side and shipped
    * here as the per-class ppm table they produce.
    */
  def mixingGateStream(docs: DataFrame, idCol: String, classCol: String,
                       ratesPpm: Seq[(String, Long)],
                       salt: String = "mix:"): DataFrame = {
    require(ratesPpm.nonEmpty, "at least one class rate required")
    val ppm = ratesPpm.tail.foldLeft(
      when(col(classCol) === ratesPpm.head._1, lit(ratesPpm.head._2))) {
      case (acc, (cls, r)) => acc.when(col(classCol) === cls, lit(r))
    }.otherwise(lit(0L))
    docs
      .withColumn("__u", pmod(
        graft.functions.HashFunctions.md5prefix64(
          concat(lit(salt), col(idCol).cast("string"))),
        lit(1000000L)))
      .filter(col("__u") < ppm)
      .drop("__u")
  }

  /** Streaming LANGUAGE gate (J19 — the streaming face of H20, as
    * J13 is h14's): classify each arriving document with the trained
    * multilingual NB classifier (all L scores in one K29 compiled
    * pass — [[graft.functions.HashFunctions.langGramScores]], the
    * 1280 trained weights as codegen literals) and keep documents
    * whose argmax language is in `keep`. This is the position CCNet
    * runs its fasttext lang-ID: in-stream, before perplexity
    * bucketing and mixing. Stateless row-local map work — no
    * explode, no aggregation, no watermark — so the gate runs at
    * feed rate and composes between the quality gate (J13/J15) and
    * the mixing gate (J18, whose per-language rates consume this
    * stage's labels).
    */
  def langGateStream(docs: DataFrame, idCol: String, textCol: String,
                     weights: Seq[Seq[Long]],
                     langs: Seq[String] =
                       graft.operators.LangClassifier.Langs,
                     keep: Set[String] = Set("en")): DataFrame = {
    val scored = docs
      .withColumn("__ls",
        graft.functions.HashFunctions.langGramScores(col(textCol), weights,
          graft.operators.LangClassifier.GramN))
    val scoreCols = langs.indices.map(i => element_at(col("__ls.scores"), i + 1))
    scored
      .withColumn("pred_lang",
        graft.operators.LangClassifier.predictLang(scoreCols, langs))
      .drop("__ls")
      .filter(col("pred_lang").isin(keep.toSeq: _*))
  }

  /** One step of the streaming EXACT-SUBSTRING screen loop (J14 —
    * the streaming closure of F14, the way [[screenAndIndexBatch]]
    * closes F9): the microbatch (1) emits its stride-1 k-token
    * window hashes row-locally (TokenWindowHashes64 — a pure map
    * stage), (2) drops any document sharing ONE window hash with the
    * kept corpus's index (it repeats a ≥k-token span of history at
    * some offset — the Lee et al. rule as an arrival gate), and (3)
    * appends the SURVIVORS' window hashes under `batch_id=<id>` with
    * dynamic partition overwrite (J10's replay idempotency; the
    * `batch_id != current` filter keeps a replay from screening
    * against its own half-written first attempt).
    *
    * Same declared approximations as J11: survivor-only indexing
    * (canonical-set semantics, index linear in kept content), and
    * same-batch twins both survive — the batch F14 pass over the
    * stored corpus reconciles those. The screen is doc-level
    * drop/keep; the finer-grained CUT
    * ([[graft.operators.Dedup.substringDedupCut]]) belongs in the
    * batch compaction pass, where the keeper set is stable. All
    * shuffled rows carry (id, 8-byte hash); at scale the index read
    * is a bucketed layout like [[graft.operators.Dedup.writeBandIndex]].
    */
  def substringScreenBatch(batch: DataFrame, batchId: Long, idCol: String,
                           textCol: String, k: Int, indexPath: String,
                           survivorsPath: String): Unit = {
    val spark = batch.sparkSession
    // J23 replay noop-guard (see screenAndIndexBatch)
    if (StreamIndexCompaction.compactedThrough(spark, indexPath) >= batchId)
      return
    // explode_outer, not explode: the inferred size()>0 filter of the
    // plain variant would re-run the kernel (the p13 lesson), and
    // sub-k-token docs must still flow through the anti join as
    // automatic survivors
    val wins = batch
      .select(col(idCol),
        explode_outer(graft.functions.HashFunctions
          .tokenWindowHashes64(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
    val priorHashes =
      try spark.read.parquet(indexPath)
        .filter(col("batch_id") =!= batchId)
        .select("h")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        import spark.implicits._
        Seq.empty[Long].toDF("h")
      }
    // materialize wins + dupIds before the two writes: the batch is
    // hashed ONCE (not once per write), and the index write no longer
    // embeds a lazy self-read of the indexPath it is overwriting
    val winsP = wins.persist()
    val dupIds = winsP.join(priorHashes, Seq("h"))
      .select(col(idCol)).distinct().persist()
    dupIds.count()
    try {
      val survivors = batch.join(dupIds, Seq(idCol), "left_anti")
      survivors.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(survivorsPath)
      winsP.join(dupIds, Seq(idCol), "left_anti")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexPath)
    } finally {
      dupIds.unpersist()
      winsP.unpersist()
    }
  }

  /** The J14 sink: the substring-screen loop running continuously. */
  def startSubstringScreenSink(docs: DataFrame, idCol: String, textCol: String,
                               k: Int, indexPath: String, survivorsPath: String,
                               checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        substringScreenBatch(batch, batchId, idCol, textCol, k,
          indexPath, survivorsPath)
      }
      .start()

  /** One step of the streaming CCNet PARAGRAPH-dedup screen (J17 —
    * the streaming closure of F15, the way J14 closes F14): the
    * microbatch's docs split into paragraphs, normalized per the
    * paper (lowercase, digits→0, punctuation stripped — Wenzek et
    * al. 2020 §3.1, the F15 spelling verbatim), and every paragraph
    * whose 8-byte key is (a) in the cumulative index — seen in any
    * PRIOR batch — or (b) a within-batch repeat (keeper = lexicographic
    * min(struct(id, para_idx)), the F15 election) is CUT. Docs are
    * reconstructed from surviving paragraphs (empty paragraphs pass
    * through, preserving blank-line structure) and docs with no
    * non-empty survivor are dropped — the shared-header/footer
    * boilerplate of a re-crawled site collapses to the FIRST batch
    * that carried it. The index append is the batch's new KEEPER
    * keys only (every keeper's doc survives by construction — a doc
    * with a kept non-empty paragraph is never dropped), so the index
    * is survivor-linear: 8 bytes per distinct paragraph ever kept,
    * never per occurrence. Replay-idempotent via the J10 discipline:
    * prior state reads filter out this batch_id, writes
    * dynamic-overwrite the batch_id partition.
    */
  def paragraphScreenBatch(batch: DataFrame, batchId: Long, idCol: String,
                           textCol: String, indexPath: String,
                           survivorsPath: String): Unit = {
    val spark = batch.sparkSession
    // J23 replay noop-guard (see screenAndIndexBatch)
    if (StreamIndexCompaction.compactedThrough(spark, indexPath) >= batchId)
      return
    val nrm = regexp_replace(
      regexp_replace(lower(col("para")), "[0-9]", "0"), "[^a-z0-9 ]", "")
    // persist: the normalize+hash pass feeds the keeper election AND
    // the cut — the F15 shared-pass lesson (measured 2× unpersisted).
    // __nrm is a NAMED column so the two-regex normalize chain runs
    // once per paragraph (inlined into both k and empty it evaluated
    // twice — CollapseProject only keeps multiply-referenced aliases
    // separate when they are named).
    val keyed = batch
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("para_idx", "para")))
      .withColumn("__nrm", nrm)
      .withColumn("k", graft.functions.HashFunctions.md5prefix64(col("__nrm")))
      .withColumn("empty", length(trim(col("__nrm"))) === 0)
      .drop("__nrm")
      .persist()
    val prior =
      try spark.read.parquet(indexPath)
        .filter(col("batch_id") =!= batchId)
        .select("k").distinct()
      catch { case _: org.apache.spark.sql.AnalysisException =>
        import spark.implicits._
        Seq.empty[Long].toDF("k")
      }
    val keepers = keyed.filter(!col("empty"))
      .groupBy("k")
      .agg(min(struct(col(idCol), col("para_idx"))).as("kk"))
    // Empty paragraphs BYPASS both k-joins (guide §2.5 hot keys):
    // every empty-normalizing paragraph shares ONE key (md5 of ""),
    // so at corpus scale they all hash to a single join partition —
    // and their fate needs neither join (kept unconditionally, never
    // indexed: the index write already filters !empty). Splitting
    // them out before the join removes the hot key instead of
    // salting around it; kept/__seen come out identical by
    // construction, so downstream aggregates and writes are unchanged.
    val marked = keyed.filter(!col("empty"))
      .join(keepers, Seq("k"), "left")
      .join(prior.withColumn("__seen", lit(true)), Seq("k"), "left")
      .withColumn("kept", col("__seen").isNull &&
        col(idCol) === col(s"kk.$idCol") &&
        col("para_idx") === col("kk.para_idx"))
      .drop("kk")
      .persist()
    // empties re-enter only the survivor aggregation, as a cheap
    // filter over the already-persisted keyed frame (they were never
    // needed by the index write, which filters !empty anyway)
    val empties = keyed.filter(col("empty"))
      .withColumn("__seen", lit(null).cast("boolean"))
      .withColumn("kept", lit(true))
    marked.count() // materialize once for the two writes (J10/J14 lesson)
    try {
      val survivors = marked.unionByName(empties).groupBy(col(idCol))
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("kept"), length(col("para"))).otherwise(0L))
            .as("chars_removed"),
          collect_list(when(col("kept"),
            struct(col("para_idx"), col("para")))).as("kl"),
          sum(when(col("kept") && !col("empty"), 1L).otherwise(0L))
            .as("n_kept_nonempty"))
        .filter(col("n_kept_nonempty") > 0)
        .select(col(idCol), col("n_paras"), col("n_kept"),
          col("chars_removed"),
          concat_ws("\n",
            expr("transform(array_sort(kl), x -> x.para)")).as("text_kept"))
      survivors.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(survivorsPath)
      // new keeper keys only: kept, non-empty, unseen — one 8-byte
      // row per distinct paragraph first kept in THIS batch
      marked.filter(col("kept") && !col("empty") && col("__seen").isNull)
        .select("k").distinct()
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexPath)
    } finally {
      marked.unpersist()
      keyed.unpersist()
    }
  }

  /** The J17 sink: the paragraph-screen loop running continuously. */
  def startParagraphScreenSink(docs: DataFrame, idCol: String, textCol: String,
                               indexPath: String, survivorsPath: String,
                               checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        paragraphScreenBatch(batch, batchId, idCol, textCol,
          indexPath, survivorsPath)
      }
      .start()

  /** One step of the streaming PERCEPTUAL media screen loop (J16 —
    * the streaming closure of I5b, the way J14 closes F14): the
    * microbatch of opaque media payloads (1) decodes and DCT-pHashes
    * per partition (REAL JDK codec, [[graft.operators.MediaCodec]];
    * undecodable payloads take the deterministic stub-hash fallback
    * so every record still flows — the I2 provenance contract),
    * (2) finds history CANDIDATES by 8×8-bit multi-index band
    * equality (lossless to Hamming radius 7 — Norouzi et al. 2012),
    * (3) CONFIRMS each candidate by exact Hamming on the stored full
    * print before dropping — the step the MinHash screen doesn't
    * need but a perceptual screen does: an 8-bit band matches by
    * CHANCE 1/256 per comparison, so at a 100k-asset history the
    * unconfirmed screen would false-drop ~3 % of genuinely new
    * assets, while the confirmed screen drops only true
    * radius-≤ maxHamming near-dups — and (4) appends the survivors'
    * (band, bv, phash) rows under `batch_id=<id>` with dynamic
    * partition overwrite (J10 replay idempotency). Survivor-only
    * indexing, same-batch twins reconciled by the batch i5b pass —
    * J11/J14's declared approximations. Shuffle carries 16 bytes per
    * asset-band, never pixels.
    */
  def mediaScreenBatch(batch: DataFrame, batchId: Long, idCol: String,
                       payloadCol: String, indexPath: String,
                       survivorsPath: String, maxHamming: Int = 7): Unit = {
    val spark = batch.sparkSession
    // J23 replay noop-guard (see screenAndIndexBatch)
    if (StreamIndexCompaction.compactedThrough(spark, indexPath) >= batchId)
      return
    import spark.implicits._
    val prints = batch.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val h = graft.operators.MediaCodec.phash64(bytes).getOrElse {
          var hh = 1125899906842597L
          var i = 0
          while (i < bytes.length) { hh = 31 * hh + (bytes(i) & 0xff); i += 1 }
          hh
        }
        (id, h)
      }).toDF(idCol, "phash")
    val bands = prints.select(col(idCol), col("phash"),
        explode(array((0 until 8).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("phash"), b * 8).bitwiseAND(lit(0xffL)).as("bv"))
        }: _*)).as("bb"))
      .select(col(idCol), col("phash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val prior =
      try spark.read.parquet(indexPath)
        .filter(col("batch_id") =!= batchId)
        .select(col("band"), col("bv"), col("phash").as("phash_hist"))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Seq.empty[(Int, Long, Long)].toDF("band", "bv", "phash_hist")
      }
    // J14's materialization discipline: decode/hash the batch ONCE,
    // and keep the index write from lazily re-reading its own path
    val bandsP = bands.persist()
    val dupIds = bandsP.join(prior, Seq("band", "bv"))
      .filter(expr(s"bit_count(phash ^ phash_hist) <= $maxHamming"))
      .select(col(idCol)).distinct().persist()
    dupIds.count()
    try {
      batch.join(dupIds, Seq(idCol), "left_anti")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(survivorsPath)
      bandsP.join(dupIds, Seq(idCol), "left_anti")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(indexPath)
    } finally {
      dupIds.unpersist()
      bandsP.unpersist()
    }
  }

  /** The J16 sink: the perceptual media screen running continuously. */
  def startMediaScreenSink(media: DataFrame, idCol: String, payloadCol: String,
                           indexPath: String, survivorsPath: String,
                           checkpoint: String, maxHamming: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mediaScreenBatch(batch, batchId, idCol, payloadCol,
          indexPath, survivorsPath, maxHamming)
      }
      .start()

  /** The J11 sink: every microbatch screens against all prior
    * batches' band index and appends its own bands — the streaming
    * daily-batch dedup loop running continuously.
    */
  def startScreeningSink(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, indexPath: String, survivorsPath: String,
                         checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenAndIndexBatch(batch, batchId, idCol, textCol, n,
          indexPath, survivorsPath)
      }
      .start()
}
