package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Skew- and shuffle-management patterns for 100 TB operation.
  *
  * - [[saltedCount]] / [[saltedSum]]: two-phase aggregation for
  *   heavily skewed keys (one aircraft producing a large share of all
  *   reports, one document id duplicated millions of times). Phase 1
  *   aggregates (key, salt) — spreading a hot key over `salts`
  *   reducers — phase 2 merges the partials. AQE's skew handling
  *   covers joins; this covers aggregations.
  * - [[writeBucketed]] / co-located joins: MergeTree's ORDER BY
  *   locality for the join path. Two tables bucketed by the same key
  *   into the same bucket count join with ZERO exchanges.
  */
object ScaleOps {

  /** Guarded scan SPREAD (guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read",
    * §2.6 idle capacity): when `df`'s planned scan parallelism is
    * below the session's default parallelism — the one-file /
    * one-row-group shape of the benchmark inputs, and of any
    * under-split input in production — insert ONE round-robin
    * exchange of the (narrow, pre-heavy-work) input so the row-local
    * compute that follows uses every core instead of one. Measured on
    * local[32] at sf0.1: compute-heavy scans run at effective
    * parallelism ~1 without it (HISTORY.md, "One-file inputs scan as
    * one task").
    *
    * Scale-adaptive, not a local[32] constant: when the scan already
    * yields >= defaultParallelism splits (any real multi-file /
    * multi-row-group table at 100 TB), this is the identity — no
    * exchange is added, so plan pins on production shapes still hold.
    * Round-robin (not hash-on-key) spreads perfectly regardless of
    * key skew; Spark's sort-before-repartition keeps task retries
    * deterministic (SPARK-23207). Call it on the narrowest projection
    * that still carries what downstream needs — the exchange then
    * moves the fewest bytes (§2.3).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // A frame already downstream of an exchange is distribution-
    // managed (its partition count came from shuffle.partitions /
    // AQE coalescing), and probing it via df.rdd would EXECUTE those
    // shuffle stages eagerly under AQE and throw the work away (r16
    // ADVICE): treat it as already spread. Only narrow scan-rooted
    // plans are probed — there .rdd builds lineage without running
    // any job.
    val hasExchange = df.queryExecution.sparkPlan.find {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }.isDefined
    if (hasExchange) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  def withSalt(df: DataFrame, salts: Int): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))

  /** count per key, salted into `salts` partials first. */
  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame =
    withSalt(df, salts)
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("__partial"))
      .groupBy(col(key)).agg(sum(col("__partial")).as("n"))

  /** sum(valueCol) per key with salting; decimal-exact like dsum. */
  def saltedSum(df: DataFrame, key: String, valueCol: String, salts: Int): DataFrame =
    withSalt(df, salts)
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("__partial"))
      .groupBy(col(key)).agg(sum(col("__partial")).cast("double").as("sum_value"))

  /** Skew-safe equi-join: the LEFT (big, skewed) side is salted so a
    * hot key spreads over `salts` reducers; the RIGHT (smaller) side
    * is replicated ×salts via a literal-range explode. Use when a
    * shuffle join is unavoidable (right side too big to broadcast)
    * and AQE's skew splitting isn't available/enough — the classic
    * manual remedy for one aircraft/document dominating a key.
    * Replication factor applies only to the right side, so cost is
    * |L| + salts·|R| shuffled rows.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val l = withSalt(left, salts)
    val r = right.withColumn("__salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** E14e — deterministic FIXED-GRID mergeable quantile sketch: the
    * e13f treatment applied to quantiles (respell the sketch so its
    * merge commutes and every step replays exactly in SQL — which
    * t-digest/GK internals, order-dependent and float-centroid-based,
    * cannot).
    *
    * Sketch = per (group, grid cell) counts, cell = floor(value·G)
    * (integer). Merging two sketches is counter ADDITION — commutative
    * and associative, so the sketch is byte-identical under ANY
    * partitioning or merge order (the mergeable-summaries property
    * that matters at 100 TB: map-side combine applies, the shuffle
    * carries one row per OCCUPIED cell — bounded by value-range/step,
    * never by row count). Quantile read-out is INTEGER-RANK: the
    * q-quantile estimate is the smallest cell whose cumulative count
    * reaches ceil(q·n) — pure BIGINT arithmetic, no interpolation, no
    * floats anywhere — and is the true quantile's cell, so the error
    * is bounded by one grid step by construction.
    */
  def gridQuantileSketch(df: DataFrame, groupCol: String, valueCol: String,
                         gridPerUnit: Int = 1): DataFrame =
    df.groupBy(col(groupCol),
        floor(col(valueCol) * gridPerUnit).cast("long").as("cell"))
      .agg(count(lit(1)).as("c"))

  /** Read quantiles out of a [[gridQuantileSketch]]: for each q (in
    * PERCENT, integer — the rank arithmetic stays exact), the lower
    * edge cell of the bucket containing the ceil(q·n/100)-th smallest
    * value. The cumulative window runs over the SKETCH (cells per
    * group ≤ value-range · G), never the corpus.
    */
  def gridQuantiles(sketch: DataFrame, groupCol: String,
                    qsPercent: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("cell")
    val cum = sketch.withColumn("cum", sum(col("c")).over(w))
    val n = sketch.groupBy(groupCol).agg(
      sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    val aggs = qsPercent.map { q =>
      min(when(col("cum") >= expr(s"(n * $q + 99) DIV 100"), col("cell")))
        .as(s"p${q}_cell")
    }
    cum.join(n, Seq(groupCol))
      .groupBy(col(groupCol), col("n"), col("n_cells"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** E14f — the grid-SIZING instrument (the F10/G8 treatment for
    * [[gridQuantileSketch]]): the one-grid-step error bound is a
    * worst case; this MEASURES the operating error so a pipeline
    * owner sizes `gridPerUnit` against a target instead of trusting
    * the bound. For each grid density in `gs` and each quantile in
    * `qsPercent`, reports the RANK error — cum(answered cell) −
    * ceil(q·n/100), i.e. how many ranks past the target the answered
    * cell swallows (0 = the read-out is rank-exact) — plus the
    * sketch size (`n_cells`, the cost axis). Pure BIGINT arithmetic
    * end-to-end, so the whole curve replays in SQL; `gs` should be
    * powers of two both so value·G stays float-exact across engines
    * and so the grids NEST — for nested grids the rank error is
    * provably non-increasing in G (the finer answer cell is a
    * sub-cell at or before the coarser one), which the spec pins.
    * The corpus is scanned ONCE, at the finest grid: because the
    * grids nest, `cell@G = floorDiv(cell@Gmax, Gmax/G)` — value·G is
    * an exact power-of-two scaling, so the identity is BIT-EXACT, not
    * approximate (spec-pinned fold ≡ direct). Every coarser sketch is
    * derived in SKETCH space by exploding each finest cell row into
    * one row per requested grid and re-keying ONE shuffle on
    * (grid, group, cell) — the one-scan property is STRUCTURAL (a
    * single scan node in the plan), not an optimizer courtesy, and
    * all grids share a single window/read-out pass instead of one
    * leg each. The explode fan-out is |gs|× over SKETCH rows
    * (≤ value-range·Gmax per group), never corpus rows.
    */
  def gridSizingReport(df: DataFrame, groupCol: String, valueCol: String,
                       gs: Seq[Int], qsPercent: Seq[Int]): DataFrame = {
    require(gs.nonEmpty, "at least one grid density required")
    require(gs.distinct.size == gs.size,
      s"duplicate grid densities in $gs: the explode would merge their " +
        "counts into one double-counted row")
    val gMax = gs.max
    gs.foreach(g => require(g > 0 && (g & (g - 1)) == 0 && gMax % g == 0,
      s"grids must be nesting powers of two (got $g against max $gMax): " +
        "the one-scan fold and its bit-exactness depend on it"))
    val finest = gridQuantileSketch(df, groupCol, valueCol, gMax)
    // one row per (finest cell, grid level); lv.k = Gmax/G, and
    // floor division (not DIV, which truncates toward zero and would
    // mis-fold negative cells): cell@G = floor(cell@Gmax / k)
    val lv = explode(array(gs.map(g =>
      struct(lit(g.toLong).as("grid"), lit((gMax / g).toLong).as("k"))): _*))
    val sk = finest
      .select(col(groupCol), col("cell"), col("c"), lv.as("lv"))
      .select(col("lv.grid").as("grid"), col(groupCol),
        expr("(cast(cell as bigint) - pmod(cast(cell as bigint), lv.k))" +
          " div lv.k").as("cell"),
        col("c"))
      .groupBy(col("grid"), col(groupCol), col("cell"))
      .agg(sum(col("c")).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grid", groupCol).orderBy("cell")
    val cum = sk.withColumn("cum", sum(col("c")).over(w))
    val n = sk.groupBy(col("grid"), col(groupCol)).agg(
      sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    val minCums = qsPercent.map { q =>
      min(when(col("cum") >= expr(s"(n * $q + 99) DIV 100"), col("cum")))
        .as(s"__c$q")
    }
    cum.join(n, Seq("grid", groupCol))
      .groupBy(col("grid"), col(groupCol), col("n"), col("n_cells"))
      .agg(minCums.head, minCums.tail: _*)
      .select(Seq(col("grid"), col(groupCol), col("n"), col("n_cells")) ++
        qsPercent.map(q =>
          (col(s"__c$q") - expr(s"(n * $q + 99) DIV 100"))
            .as(s"rank_err_p$q")): _*)
  }

  /** Scalable prefix sum over a dense numeric order column — the
    * two-level scan: bucket by order-range, per-bucket partial sums,
    * a cumsum over the (tiny) bucket totals broadcast back as
    * offsets, then an in-bucket window adds the offset. The only
    * single-partition step runs over #buckets rows of METADATA, so
    * the global running total never funnels the data through one
    * task — unlike a plain `Window.orderBy` cumsum, which would.
    * Adds `cum` = inclusive prefix sum of `valueCol` in `orderCol`
    * order (ties impossible: orderCol must be unique).
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                bucketSpan: Long): DataFrame = {
    // integer floor-division (pmod keeps it a floor, not a truncation,
    // for negative ids): a double round-trip would lose precision for
    // order ids above 2^53 and could mis-bucket boundary rows
    val bucketed = df.withColumn("__b",
      expr(s"(cast($orderCol as bigint) - pmod(cast($orderCol as bigint), " +
        s"${bucketSpan}L)) div ${bucketSpan}L"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__b"))
      .agg(sum(col(valueCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(w), lit(0L)))
      .select("__b", "__off")
    val inBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bucketed.join(broadcast(offsets), "__b")
      .withColumn("cum", sum(col(valueCol)).over(inBucket) + col("__off"))
      .drop("__b", "__off")
  }

  /** Exact weighted median per group, two-level (same philosophy as
    * [[prefixSum]]): a plain `Window.partitionBy(group).orderBy(value)`
    * cumulative weight sorts each group's WHOLE data in one task —
    * with few, huge groups that is the data funneled through a handful
    * of tasks. Instead: (1) partial weights per (group, value-bucket)
    * — one map-side-combined aggregation; (2) cumulative weights over
    * the bucket totals (metadata-scale rows) locate each group's
    * threshold bucket, the one where cumulative weight first reaches
    * half the total; (3) only that bucket's rows get the exact
    * in-bucket cumulative window, offset by the preceding buckets'
    * weight. Integer weight arithmetic (2·cum ≥ total) and
    * tie-order-independent, like the single-window spelling — and
    * bucketing only affects WHERE work happens, never the result.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String, bucketSpan: Double): DataFrame = {
    val g = col(groupCol)
    val withB = df.withColumn("__b",
      floor(col(valueCol) / bucketSpan).cast("long"))
    val partials = withB.groupBy(g, col("__b"))
      .agg(sum(col(weightCol)).as("__bw"))
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(g)
    val threshold = partials
      .withColumn("__cum", sum(col("__bw")).over(byBucket))
      .withColumn("__tw", sum(col("__bw")).over(whole))
      .filter(col("__cum") * 2 >= col("__tw"))
      .groupBy(g)
      .agg(min(col("__b")).as("__b"),
        min_by(col("__cum") - col("__bw"), col("__b")).as("__off"),
        min_by(col("__tw"), col("__b")).as("__tw"))
    val inBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    withB.join(broadcast(threshold), Seq(groupCol, "__b"))
      .withColumn("__c", sum(col(weightCol)).over(inBucket) + col("__off"))
      .groupBy(g)
      .agg(min(when(col("__c") * 2 >= col("__tw"), col(valueCol)))
        .as("weighted_median"))
  }

  /** k smallest `hCol` values per `groupCol`, two-level: per-(group,
    * bucket) k-mins computed in parallel, then the k-mins of that
    * union (≤ 256·k rows per group). Identical output to a direct
    * per-group window — the k smallest of a union are among the
    * per-bucket k smallest — but a group's candidate set never
    * funnels through one task, which is what a plain
    * `Window.partitionBy(group)` does when groups are few and huge
    * (a KMV sketch over billions of distinct keys in 2 groups would
    * otherwise sort billions of rows in 2 tasks). Emits `rn` (1..k
    * rank within the group) like the single-window spelling.
    */
  def kMinPerGroup(df: DataFrame, groupCol: String, hCol: String,
                   k: Int, buckets: Int = 256): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__bkt")).orderBy(col(hCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(hCol))
    df.withColumn("__bkt", pmod(col(hCol), lit(buckets)))
      .withColumn("__rnb", row_number().over(wB)).filter(col("__rnb") <= k)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("__bkt", "__rnb")
  }

  /** Bloom-prefiltered left-semi join — the runtime-filter /
    * semi-join-reduction pattern made explicit (see
    * [[graft.functions.BloomFilter]]): build a deterministic bitset
    * over the build side's keys (one ObjectHashAggregate whose
    * shuffle moves bitsets, not keys), materialize it at the driver
    * (one ~KBs row — NOT a data collect), and probe it inside the
    * fact side's scan filter so non-matching rows die before any
    * exchange. The exact semi join that follows removes bloom false
    * positives; false negatives are impossible — output is bit-exact
    * equal to `fact ⋉ keys` while only the might-contain fraction of
    * the fact table is ever shuffled. Use when the build side is too
    * big to broadcast as a hash relation but its bitset is not
    * (10⁹ keys ≈ 1–2 GB hashed relation vs ~150 MB bloom at 1% FPP).
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String, keys: DataFrame,
                    keyCol: String, numBits: Int = 0,
                    numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomFunctions._
    val bytes = keys.agg(bloomAgg(col(keyCol),
        sizedBits(keys, keyCol, numBits), numHashes))
      .head().getAs[Array[Byte]](0)
    fact.filter(bloomMightContain(bytes, col(factKey)))
      .join(keys.select(col(keyCol).as(factKey)), Seq(factKey), "left_semi")
  }

  /** numBits ≤ 0 ⇒ derive from the build side ([[graft.functions
    * .BloomUtil.sizeFor]]: smallest pow2 ≥ 10·|keys|, ~1 % FPP at 5
    * hashes). The count is one extra map-side-combined aggregation
    * over the BUILD side — by the pattern's own precondition the
    * small side — and exact, so sizing stays deterministic: same key
    * set ⇒ same count ⇒ same bitset. A fixed default can't do this
    * job: it silently degrades to ~100 % FPP when the build side
    * outgrows it (bit-correct but useless — the whole probe side
    * shuffles again).
    */
  private def sizedBits(keys: DataFrame, keyCol: String, numBits: Int): Int =
    if (numBits > 0) numBits
    else graft.functions.BloomUtil.sizeFor(
      keys.agg(count(col(keyCol))).head().getLong(0))

  /** Bloom-split left-anti join: rows FAILING the bloom probe are
    * definite non-members — kept immediately, map-side, no shuffle.
    * Only the might-contain sliver takes the exact anti join. Output
    * is bit-exact equal to `fact ▷ keys`; cost is two map-side scans
    * of the fact table (each cheap, columnar) in exchange for
    * shuffling ~FPP·|fact| instead of |fact|.
    */
  def bloomAntiJoin(fact: DataFrame, factKey: String, keys: DataFrame,
                    keyCol: String, numBits: Int = 0,
                    numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomFunctions._
    val bytes = keys.agg(bloomAgg(col(keyCol),
        sizedBits(keys, keyCol, numBits), numHashes))
      .head().getAs[Array[Byte]](0)
    val definiteOut = fact.filter(!bloomMightContain(bytes, col(factKey)))
    val maybe = fact.filter(bloomMightContain(bytes, col(factKey)))
      .join(keys.select(col(keyCol).as(factKey)), Seq(factKey), "left_anti")
    definiteOut.unionAll(maybe)
  }

  /** Persist bucketed+sorted by key — the MergeTree ORDER BY analogue
    * for the join path. Joins between tables bucketed identically on
    * the join key are exchange-free.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Exchange-free equi-join of two identically bucketed tables. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
