package graft.operators

import graft.functions.{HashFunctions, HashUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** F-group deduplication family (SURVEY §2): exact, n-gram Jaccard,
  * MinHash+LSH and SimHash. All hashing goes through the portable
  * md5-prefix base (graft.functions.HashUtil) so results are
  * engine-reproducible (and oracle-checkable).
  *
  * Scale notes (100 TB): the quadratic danger is the shingle
  * self-join — capped by dropping shingles with document frequency
  * above `dfCap` (super-common shingles carry no dedup signal);
  * MinHash banding replaces the all-pairs join with Σ bucket² work;
  * every aggregation is a plain hash shuffle with map-side combine.
  */
object Dedup {

  /** Multi-consumer frames persist through [[TrackedCache]] (session-
    * tracked, releasable between corpora).
    */
  private def persistTracked(df: DataFrame): DataFrame = TrackedCache.persist(df)

  /** Unpersist every frame the graft operators cached for `spark`
    * (shingle sets, band frames, token explodes). Call between corpora
    * in a long-lived session; in-flight queries over the released
    * frames recompute rather than fail.
    */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    TrackedCache.release(spark)

  /** Exact dedup groups: content hash → (kept id = min, dup count). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** [[exactGroups]] on 8-byte keys — the 10¹⁰-doc spelling: the
    * shuffle carries a 60-bit md5 prefix (long) instead of the
    * 32-char hex string (~4× smaller group keys, cheap equality).
    * Prefix collisions (~N²·2⁻⁶¹) would merge two distinct-content
    * groups; at the scale where that matters, re-verify survivors
    * with the full digest INSIDE each group — a per-group check,
    * never a corpus-wide string shuffle. The oracle hashes
    * identically, so the same (astronomically unlikely) merges would
    * appear on both sides.
    */
  def exactGroups64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(HashFunctions.md5prefix64(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep the min-id row of each identical-content group. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__h", md5(col(textCol)))
      .withColumn("__keep", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(col(idCol) === col("__keep"))
      .drop("__h", "__keep")

  /** Per-document distinct 60-bit shingle hashes, computed row-locally
    * (hash inside `transform`, dedup via `array_distinct`, THEN
    * explode) — the "distinct per (doc, shingle)" set without any
    * shuffle: uniqueness within a row is row-local work, and rows are
    * distinct docs. Joins downstream compare 8-byte longs, not shingle
    * strings. Collisions (~2⁻⁶⁰) are mirrored by the oracle, which
    * hashes identically.
    */
  def hashedShingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df
      // Spread the docs first: the shingle kernel is row-local — a
      // single small input file would otherwise pin ALL of it to one
      // core.
      .repartition(col(idCol))
      // tokenize→shingle→hash→distinct as ONE native kernel
      // (TokenShingleHashes64); the spec asserts it equals the
      // composed tokens/shinglesFromTokens/md5prefix64 spelling
      .withColumn("__shs",
        graft.functions.HashFunctions.tokenShingleHashes64(col(textCol), n))
      // explode_outer, NOT explode: InferFiltersFromGenerate would wrap
      // plain explode's child in a `size(<whole expression>) > 0`
      // filter, pushed below the repartition — re-running the entire
      // inlined shingle computation serially on the raw input
      // partitioning. The arrays here are never empty (shingles()
      // yields ≥1), so the rows are identical.
      .select(col(idCol), explode_outer(col("__shs")).as("shh"))
      // End on a key-partitioned exchange that pre-aligns the shh
      // equi-join. NOTE: this exchange alone is NOT enough to make the
      // subtree compute once — AQE + per-consumer column pruning
      // de-canonicalize the copies, so Spark's ReuseExchange never
      // fires (measured: 5 scans in round 1). Consumers that fan out
      // over this frame must persist it (see [[sharedShingleSet]]).
      .repartition(col("shh"))

  /** The shingle set persisted for multi-consumer fan-out. Each of
    * ngram-Jaccard's four consumers (sizes, df-cap, both join sides)
    * and MinHash's aggregation read the SAME materialization: the
    * corpus is scanned + tokenized + shingled exactly once, then
    * served from the block store (spilling to disk if it outgrows
    * memory — at 100 TB this is the difference between one corpus
    * read and five). Spark's CacheManager keys the entry on the
    * canonicalized plan, so f2 and f3 over the same input share one
    * copy rather than caching twice.
    */
  def sharedShingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    persistTracked(hashedShingleSet(df, idCol, textCol, n))

  /** Pairwise n-gram Jaccard over the hashed shingle sets.
    * Returns (a, b, n_common, jac) for every candidate pair that
    * shares at least one sub-cap shingle.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, dfCap: Int): DataFrame = {
    val sh = sharedShingleSet(df, idCol, textCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val rare = sh.groupBy(col("shh")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= dfCap).select("shh")
    // BOTH self-join sides keep only sub-cap shingles: an over-cap
    // shingle can never contribute to n_common (the x side drops it),
    // so filtering y too is free — and it removes exactly the hot
    // keys, turning the worst Σc·c_y terms into Σc² with c ≤ dfCap.
    val x = sh.join(rare, "shh").select(col(idCol).as("a"), col("shh"))
    val y = sh.join(rare, "shh").select(col(idCol).as("b"), col("shh"))
    val inter = x.join(y, Seq("shh")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), "b")
      .withColumn("jac",
        col("n_common").cast("double") / (col("sza") + col("szb") - col("n_common")))
      .select("a", "b", "n_common", "jac")
  }

  /** Seeds of the 16-hash MinHash family (4 bands × 4 rows). */
  val MinhashA: Array[Long] = Array(29L, 101L, 233L, 419L, 607L, 809L,
    1021L, 1217L, 1423L, 1619L, 1823L, 2029L, 2237L, 2423L, 2617L, 2819L)
  val MinhashB: Array[Long] = Array(7L, 13L, 31L, 61L, 127L, 251L, 509L,
    1013L, 2039L, 4079L, 8161L, 16319L, 32633L, 65269L, 130553L, 261101L)
  val MinhashRowsPerBand = 4

  /** Per-(doc, band) MinHash signatures, one LONG per band.
    *
    * All 16 minhashes are computed as parallel `min` aggregates in ONE
    * hash aggregation over the shingle set (map-side combined, a
    * single shuffle on the doc id) — no 16× row explosion, no
    * per-(doc,seed) re-shuffle. Bands then pivot out row-locally.
    *
    * The band signature is `xxhash64` of the band's 4 minhashes — an
    * 8-byte join/shuffle key instead of the previous ~25-byte
    * comma-joined string, and the natural fixed-width schema for a
    * persisted band index ([[graft.operators.ScaleOps]] bucketing).
    * Collisions would need two distinct 4-tuples hashing equal WITHIN
    * one band (birthday over 2^64 — negligible at any corpus size we
    * target); the DuckDB oracle keeps the portable 4-tuple spelling
    * and matches on the resulting PAIR sets, which are identical.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = sharedShingleSet(df, idCol, textCol, n)
      .withColumn("b", col("shh") % lit(HashUtil.P))
    val mins = MinhashA.indices.map { i =>
      min((lit(MinhashA(i)) * col("b") + lit(MinhashB(i))) % lit(HashUtil.P)).as(s"mh_$i")
    }
    val mh = sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    val nBands = MinhashA.length / MinhashRowsPerBand
    mh.select(col(idCol), explode(array((0 until nBands).map { band =>
        struct(lit(band).as("band"),
          xxhash64((0 until MinhashRowsPerBand).map(r =>
            col(s"mh_${band * MinhashRowsPerBand + r}")): _*).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Per-(doc, band) MinHash signatures computed ENTIRELY row-locally:
    * shingle hashes materialize as an array column and the 16
    * minhashes are `aggregate` folds over it — no explode, no
    * shuffle, a pure map stage. Identical signatures to
    * [[minhashBands]] (same hashes, same fold domain), verified by
    * spec. This is the shape for signature EXTRACTION at 100 TB
    * (and inside streaming microbatches, where a groupBy would be a
    * stateful aggregation); the exploded+aggregated variant remains
    * the right feeder for the batch pair-join, which wants the
    * shared shingle frame anyway.
    */
  def minhashBandsRowLocal(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    val nBands = MinhashA.length / MinhashRowsPerBand
    val withB = df
      .withColumn("__shs",
        graft.functions.HashFunctions.tokenShingleHashes64(col(textCol), n))
      .withColumn("__b", transform(col("__shs"), h => h % lit(HashUtil.P)))
    val mins = MinhashA.indices.map { i =>
      aggregate(col("__b"), lit(Long.MaxValue),
        (acc, b) => least(acc, (lit(MinhashA(i)) * b + lit(MinhashB(i))) % lit(HashUtil.P)))
    }
    // zero-shingle docs are dropped to agree with [[minhashBands]],
    // whose aggregate path emits no group for them — without this a
    // row-local side would emit Long.MaxValue fold-init signatures
    // and two empty docs would spuriously "match" on every band.
    withB.filter(size(col("__shs")) > 0)
      .select(col(idCol), explode(array((0 until nBands).map { band =>
        struct(lit(band).as("band"),
          xxhash64((0 until MinhashRowsPerBand).map(r =>
            mins(band * MinhashRowsPerBand + r)): _*).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** LSH candidate pairs: docs sharing ≥1 identical band signature,
    * with the number of shared bands (more bands ⇒ higher similarity).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // persisted: the band frame feeds BOTH sides of the self-join —
    // without it the whole 16-minhash aggregation runs twice (same
    // defect class as the round-1 shingle recompute), and consumers
    // across queries (f3/f7/p1) share this one materialization
    val bands = persistTracked(minhashBands(df, idCol, textCol, n))
    val l = bands.select(col(idCol).as("a"), col("band"), col("sig"))
    val r = bands.select(col(idCol).as("b"), col("band"), col("sig"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_bands"))
  }

  /** One-permutation MinHash (Li/Owen/Zhang OPH) band signatures with
    * rotation densification (Shrivastava): instead of k independent
    * affine minhashes per shingle, hash each shingle ONCE and route it
    * to slot `shh % k`, keeping the min per slot; empty slots borrow
    * the value of the nearest non-empty slot to their circular right.
    * Signature extraction cost drops from k affine passes over every
    * shingle to one modulo — the dominant cost at corpus scale, which
    * is why production MinHash (datasketch, Spark's own MinHashLSH
    * alternatives) ships OPH. Pair quality is spec-verified against
    * the classic family (identical docs always collide; measured
    * band-collision behavior comparable at the same k).
    *
    * Shape: one map-side-combined min-agg per (doc, slot) — the SAME
    * single shuffle as [[minhashBands]] (slot is part of the grouping
    * key, not a row multiplier since each shingle lands in exactly
    * one slot vs ALL 16) — then densification is a row-local
    * array_sort over the ≤ k collected slots.
    */
  def onePermBands(df: DataFrame, idCol: String, textCol: String, n: Int,
                   k: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    require(k % rowsPerBand == 0, "slot count must divide into bands")
    val sh = sharedShingleSet(df, idCol, textCol, n)
    val sparse = sh.groupBy(col(idCol), (col("shh") % k).as("bkt"))
      .agg(min(col("shh")).as("v"))
    val entries = sparse.groupBy(col(idCol))
      .agg(collect_list(struct(col("bkt"), col("v"))).as("es"))
    // slot b = value of the entry with min circular distance rightward
    // ((bkt - b) mod k); distances are distinct per doc (one entry per
    // bucket), so the array_sort pick is deterministic regardless of
    // collect_list order
    def slot(b: Int) =
      element_at(array_sort(transform(col("es"), e =>
        struct((((e.getField("bkt") - b) % k + k) % k).as("d"),
          e.getField("v").as("v")))), 1).getField("v")
    val nBands = k / rowsPerBand
    entries.select(col(idCol), explode(array((0 until nBands).map { band =>
        struct(lit(band).as("band"),
          xxhash64((0 until rowsPerBand).map(r =>
            slot(band * rowsPerBand + r)): _*).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** [[onePermBands]] computed ENTIRELY row-locally via the K23
    * kernel ([[graft.functions.HashUtil.ophSlotMins]]): shingle-hash
    * array → one compiled pass for slot minima + densification →
    * band sigs. ZERO shuffles for signature extraction (the exploded
    * spelling pays a (doc, slot) aggregation AND a doc-keyed
    * collect_list) — this is where OPH's k×-less-arithmetic promise
    * actually lands at corpus scale, and the spelling streaming
    * microbatches must use. Bit-identical signatures to
    * [[onePermBands]] (spec-pinned): duplicates in the un-distinct
    * hash array can't move a min, and the kernel's rightward borrow
    * IS the argmin-by-circular-distance selection.
    */
  def onePermBandsRowLocal(df: DataFrame, idCol: String, textCol: String,
                           n: Int, k: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    require(k % rowsPerBand == 0, "slot count must divide into bands")
    val nBands = k / rowsPerBand
    val withS = df.withColumn("__shs",
      graft.functions.HashFunctions.tokenShingleHashes64(col(textCol), n))
      .withColumn("__slots", graft.functions.HashFunctions.ophSlotMins(col("__shs"), k))
    withS.filter(size(col("__shs")) > 0)
      .select(col(idCol), explode(array((0 until nBands).map { band =>
        struct(lit(band).as("band"),
          xxhash64((0 until rowsPerBand).map(r =>
            element_at(col("__slots"), band * rowsPerBand + r + 1)): _*).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Candidate pairs from the row-local OPH bands — same join/agg
    * shape as [[minhashLshPairs]], but the extraction side is a pure
    * map stage: the band self-join is the ONLY shuffle.
    */
  def onePermLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                      k: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val bands = persistTracked(onePermBandsRowLocal(df, idCol, textCol, n, k, rowsPerBand))
    val l = bands.select(col(idCol).as("a"), col("band"), col("sig"))
    val r = bands.select(col(idCol).as("b"), col("band"), col("sig"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_bands"))
  }

  /** LSH quality REPORT (F10 — the dedup-family analogue of G8's ANN
    * recall report): for each candidate threshold `min_bands` ∈
    * 1..bands, measure the banded-LSH candidate set against TRUE
    * n-gram Jaccard — precision (candidates that are real ≥ τ
    * near-dups) and recall (real near-dups the bands caught). THE
    * table a user reads to size bands/rows-per-band for a target
    * (the SURVEY §5 sizing rule, measured instead of assumed).
    * Work is bounded by the pieces it reuses: candidates are
    * Σ bucket² band joins, truth is the df-capped shingle self-join
    * — both the documented corpus-scale shapes, sharing ONE cached
    * shingle set. A candidate pair sharing no sub-cap shingle scores
    * Jaccard 0 (band collisions without content overlap count
    * against precision). Divisions are guarded: a threshold with
    * zero candidates reports null precision rather than raising
    * ANSI DIVIDE_BY_ZERO.
    */
  def lshQualityReport(df: DataFrame, idCol: String, textCol: String,
                       n: Int, dfCap: Int, tau: Double): DataFrame = {
    val cand = minhashLshPairs(df, idCol, textCol, n)
    val jac = ngramJaccardPairs(df, idCol, textCol, n, dfCap)
      .select("a", "b", "jac")
    val nTrue = jac.filter(col("jac") >= tau)
      .agg(count(lit(1)).as("n_true"))
    val scored = cand.join(jac, Seq("a", "b"), "left")
      .withColumn("is_true", coalesce(col("jac"), lit(0.0)) >= tau)
    scored
      .select(explode(sequence(lit(1), col("n_bands"))).as("min_bands"),
        col("is_true"))
      .groupBy("min_bands")
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("is_true"), 1)).as("n_true_candidates"))
      .crossJoin(broadcast(nTrue))
      .withColumn("precision",
        when(col("n_candidates") > 0,
          col("n_true_candidates").cast("double") / col("n_candidates")))
      .withColumn("recall",
        when(col("n_true") > 0,
          col("n_true_candidates").cast("double") / col("n_true")))
      .orderBy("min_bands")
  }

  /** Incremental near-dup screening (F9): match a DELTA batch against
    * the historical band index without touching historical text. The
    * history side is the minhash band index a production pipeline
    * materializes once and appends to (here built by [[minhashBands]]
    * from the history split; at 100 TB it is a parquet read, not a
    * recompute); only the delta pays fingerprint cost, row-locally
    * ([[minhashBandsRowLocal]] — identical signatures by spec, no
    * shuffle before the join). The join keys are (band, sig) — a
    * daily delta joining a corpus-sized index is the standard
    * big/small shape: AQE broadcasts the delta side when it fits,
    * and the index can be bucketed by (band, sig) to avoid even
    * that shuffle.
    */
  def incrementalNearDup(historyBands: DataFrame, delta: DataFrame,
                         idCol: String, textCol: String, n: Int): DataFrame = {
    val hist = historyBands
      .select(col(idCol).as("hist_id"), col("band"), col("sig"))
    val del = minhashBandsRowLocal(delta, idCol, textCol, n)
      .select(col(idCol).as("delta_id"), col("band"), col("sig"))
    del.join(hist, Seq("band", "sig"))
      .groupBy("delta_id", "hist_id").agg(count(lit(1)).as("n_bands"))
  }

  /** Persist a [[minhashBands]] frame as the HISTORY band index,
    * bucketed+sorted on the full (band, sig) join key — the layout
    * that makes every future delta screen exchange-free on the index
    * side ([[incrementalNearDupBucketed]]). `sig` (the 64-bit band
    * signature) is a uniform hash, so buckets are balanced by
    * construction.
    */
  def writeBandIndex(bands: DataFrame, table: String, buckets: Int): Unit =
    bands.write.mode("overwrite")
      .bucketBy(buckets, "band", "sig").sortBy("band", "sig")
      .format("parquet").saveAsTable(table)

  /** F9 against a BUCKETED band index ([[writeBandIndex]]): the
    * corpus-sized index side joins with ZERO exchange — its bucketed
    * layout already satisfies the join distribution — so the only
    * shuffle-sized-by-anything is the (small) delta side, and that
    * holds even when the delta exceeds the broadcast threshold (the
    * gap in the plain [[incrementalNearDup]], whose index side
    * re-shuffles on every screen once AQE can't broadcast the
    * delta). This is the production daily-batch shape at 100 TB:
    * write the index once, bucketed; every batch pays only its own
    * fingerprints plus a delta-sized shuffle.
    */
  def incrementalNearDupBucketed(spark: org.apache.spark.sql.SparkSession,
                                 indexTable: String, idCol: String,
                                 delta: DataFrame, textCol: String,
                                 n: Int): DataFrame = {
    val hist = spark.table(indexTable)
      .select(col(idCol).as("hist_id"), col("band"), col("sig"))
    val del = minhashBandsRowLocal(delta, idCol, textCol, n)
      .select(col(idCol).as("delta_id"), col("band"), col("sig"))
    del.join(hist, Seq("band", "sig"))
      .groupBy("delta_id", "hist_id").agg(count(lit(1)).as("n_bands"))
  }

  /** Explicit-choice dispatcher over the two component algorithms —
    * the seam consumers ([[graft.operators.Embeddings.semanticDedup]],
    * the f7 query path) select through. Default stays
    * [[ComponentsAlgo.MinLabel]] (near-dup graphs are star-like, so
    * O(diameter) rounds ≈ 2-4 and each round is cheaper); callers
    * facing adversarial long-chain graphs — chained boilerplate
    * corpora, transitive URL redirects — pass
    * [[ComponentsAlgo.Star]] for O(log² n) rounds regardless of
    * diameter. Both produce the identical labeling (smallest
    * reachable id), property-proven in `ComponentsSpec`.
    */
  def components(edges: DataFrame, aCol: String, bCol: String,
                 algo: ComponentsAlgo = ComponentsAlgo.MinLabel,
                 maxIter: Int = 20): DataFrame = algo match {
    case ComponentsAlgo.MinLabel =>
      connectedComponents(edges, aCol, bCol, maxIter)
    case ComponentsAlgo.Star =>
      connectedComponentsStar(edges, aCol, bCol, math.max(maxIter, 30))
    case ComponentsAlgo.Auto =>
      // the measured-crossover policy: MinLabel capped past every
      // observed near-dup convergence; a tripped cap means the graph
      // is chain-like (the regime Star wins 2.9×) — fall over to
      // Star. The caller's maxIter is honored on BOTH legs: it can
      // tighten the MinLabel prefix below the cap, and the Star leg
      // gets the same max(maxIter, 30) budget as the explicit Star
      // case.
      val (labels, converged, nNodesSeen, symOpt) =
        minLabelRounds(edges, aCol, bCol, math.min(AutoRoundCap, maxIter),
          bailOnStall = true)
      if (converged) labels
      else {
        // WARM-START (r11, closes the measured 1.7× chain regret of
        // the discard-and-restart fallback): the prefix's partial
        // labels are within-component by the min-label invariant
        // (label(x) = min id within ≤r hops — always a REACHABLE
        // node), so contracting each edge to its endpoints' labels
        // preserves components exactly; Star then runs on the
        // contracted graph and the prefix's work is REUSED, not
        // discarded (which also supersedes explicitly unpersisting a
        // "failed leg": nothing fails; superseded round RDDs remain
        // ContextCleaner-owned). Final labels compose: id → prefix
        // label → star label of that label; contracted-isolated
        // labels (already component minima) pass through the left
        // join unchanged.
        //
        // MEASURED caveat: contraction only pays when labels actually
        // COALESCED — and by ENOUGH. In the bail regime (a
        // propagation front over ascending ids) label(i) = i − r:
        // distinct labels ≈ nodes, the contracted graph is the
        // original minus r hops, and the contraction + composition
        // joins are pure overhead. On MIXED populations (stars +
        // chains interleaved) a 2× coalescence is still not enough:
        // the chain fraction dominates Star's round count either
        // way, so halving the node set doesn't shorten the rounds —
        // it only adds the contraction and composition joins
        // (components_mixed measured 1.54× best-explicit through the
        // contraction path vs ~1.4× raw). So contract only when the
        // shrink is SUBSTANTIAL — fewer than 40 % of nodes kept
        // distinct labels (≥ 2.5× smaller input to Star); hand Star
        // the RAW edges otherwise.
        //
        // Measured regret floor (r12, components_auto/_mixed with the
        // full star_star cell): Auto pays ~1.35-1.5× best-explicit on
        // shapes where the winning leg is FAST — the floor is the one
        // detection round (init fold + 1 propagation over the
        // symmetrized frame ≈ 1.5 MinLabel-round-equivalents) plus
        // two O(1)-output counts, which no policy can skip without a
        // shape oracle. The alternative policies are worse where it
        // matters: always-MinLabel pays O(diameter) (2.9-4× on
        // chains), always-Star pays 2.1-2.4× on the star-like shapes
        // real near-dup graphs have (star_star_sec vs
        // minlabel_star_sec).
        // the bail check already counted the nodes; the label count
        // only steers a 40% threshold, so the one-row HLL aggregate
        // (no distinct shuffle) is plenty — both keep the policy
        // decision at two cheap jobs on top of the detection round
        val nNodes = nNodesSeen.getOrElse(labels.count())
        // rsd = 0.01 pins the estimate tight enough that the 40%
        // threshold can't flip run-to-run near the boundary (default
        // ~5% rsd could) — the policy choice stays deterministic for
        // a given input; both legs are correct either way
        val nLabels = labels
          .agg(approx_count_distinct(col("component"), 0.01)).head().getLong(0)
        if (nLabels * 5L >= nNodes * 2L) {
          // raw-edge Star, but REUSING the prefix's symmetrized frame
          // (still persisted — see minLabelRounds): the node set and
          // the canonical (hi, lo) edge set are filters over it, so
          // the fallback never re-symmetrizes the raw edges
          val out = symOpt match {
            case Some(sym) =>
              val nodes = sym.select(col("x").as("id")).distinct()
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              val cur0 = sym.filter(col("x") > col("y")).localCheckpoint()
              starLoop(nodes, cur0, math.max(maxIter, 30))._1
            case None =>
              connectedComponentsStar(edges, aCol, bCol, math.max(maxIter, 30))
          }
          symOpt.foreach(_.unpersist())
          out
        } else {
          symOpt.foreach(_.unpersist()) // contraction reads raw edges
          val contracted = edges
            .join(labels.select(col("id").as(aCol), col("component").as("__ca")), aCol)
            .join(labels.select(col("id").as(bCol), col("component").as("__cb")), bCol)
            .select(col("__ca"), col("__cb"))
            .filter(col("__ca") =!= col("__cb"))
            .distinct()
          val starLabels = connectedComponentsStar(
            contracted, "__ca", "__cb", math.max(maxIter, 30))
          labels
            .join(starLabels.select(col("id").as("component"),
              col("component").as("__final")), Seq("component"), "left")
            .select(col("id"),
              coalesce(col("__final"), col("component")).as("component"))
            .localCheckpoint()
        }
      }
  }

  /** MinLabel round cap for [[ComponentsAlgo.Auto]]: near-dup graphs
    * converge in 2–4 rounds (HISTORY.md, "Components: Star for chains,
    * MinLabel for near-dup stars"); 5 is past every
    * observed convergence yet cheap enough that paying it before the
    * Star fallback costs less than ONE extra MinLabel diameter-round
    * regime on a chain graph.
    */
  val AutoRoundCap = 5

  /** Connected components over an undirected edge list — the step
    * that turns near-dup PAIRS into dedup GROUPS (keep one doc per
    * component, drop the rest). Iterative min-label propagation:
    * every node adopts the smallest label among itself and its
    * neighbors until a fixed point; the final label is the smallest
    * node id reachable, a canonical component id.
    *
    * Scale shape: each round is one join + one min-aggregation (two
    * hash shuffles on node ids); rounds needed = graph diameter, and
    * near-dup components are small/star-like (diameter ≤ a few), so
    * this converges in 2-4 rounds. Labels and the symmetrized edge
    * list are persisted (edges are re-joined every round); each
    * round's labels replace the previous (unpersisted). Convergence
    * is a changed-label COUNT aggregate — no row data reaches the
    * driver. For adversarial long-chain graphs swap in
    * large-star/small-star (Kiveris et al.); the API is the same.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    minLabelRounds(edges, aCol, bCol, maxIter)._1

  /** The min-label loop with its convergence verdict: `(labels,
    * converged, nNodesSeen)` — `converged = false` means the round
    * cap tripped with labels still changing (chain-like graph), the
    * signal [[ComponentsAlgo.Auto]] falls over to Star on.
    * `nNodesSeen` carries the node count IF the bail check already
    * paid for it, so the Auto policy never counts the same frame
    * twice.
    */
  private def minLabelRounds(edges: DataFrame, aCol: String, bCol: String,
                             maxIter: Int, bailOnStall: Boolean = false)
      : (DataFrame, Boolean, Option[Long], Option[DataFrame]) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionByName(edges.select(col(bCol).as("x"), col(aCol).as("y")))
      .distinct()
      .persist(lvl)
    // Initialize with the first propagation round folded in:
    // label(x) = min(x, neighbors(x)) — one aggregation instead of a
    // full join round (iterative rounds are job-latency-bound on
    // small graphs, so every round saved matters).
    // EVERY round's labels cut lineage via localCheckpoint (eager —
    // it doubles as the round's materializing action). `next`
    // references `labels` TWICE (neighbor join + own-row union), so
    // a merely-persisted chain doubles the embedded logical plan per
    // round: execution would survive (the cache truncates it) but
    // plan stringification — AQE logs, explain, any toString — goes
    // exponential and OOMs the driver once the graph diameter pushes
    // past a handful of rounds. Checkpointed rounds keep the plan
    // O(1) deep regardless of diameter; superseded round RDDs are
    // unreferenced and reclaimed by the ContextCleaner. (On a cluster
    // with executor loss in play, swap for a reliable checkpoint dir.)
    var labels = sym.groupBy(col("x"))
      .agg(min(col("y")).as("__nmin"))
      .select(col("x").as("id"), least(col("x"), col("__nmin")).as("component"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    var stalled = false
    // bail signals (Auto only): near-dup graphs converge with the
    // changed count COLLAPSING — cliques/stars label completely in
    // the init aggregation (changed = 0 in round 1), small clusters
    // within 2-3 rounds with tiny changed fractions. A chain is the
    // opposite regime, a PROPAGATION FRONT: after a full round most
    // labels still moved, and the count decays by O(1/diameter) per
    // round. Detect it from the numbers each round already computes
    // (no extra jobs beyond one node count): a round that changes
    // > 1/4 of all nodes, or (from round 2) fails to halve the
    // previous round's changed count, is front-regime — stop paying
    // O(diameter) rounds NOW and let Auto's Star leg take it. r10
    // measured the fixed 5-round prefix at 1.7× Star's whole chain
    // wall; bailing after one round cuts the regret to the round
    // itself.
    var nNodesSeen: Option[Long] = None
    def nNodes: Long = {
      if (nNodesSeen.isEmpty) nNodesSeen = Some(labels.count())
      nNodesSeen.get
    }
    var prevChanged = Long.MaxValue
    while (changed > 0 && iter < maxIter && !stalled) {
      // One aggregation yields BOTH the new label (min over self +
      // neighbors) and the previous label (the only row tagged own),
      // so convergence needs no extra join — one action per round.
      val viaNeighbor = sym
        .join(labels.select(col("id").as("y"), col("component")), "y")
        .select(col("x").as("id"), col("component"), lit(false).as("own"))
      val next = viaNeighbor
        .unionByName(labels.select(col("id"), col("component"), lit(true).as("own")))
        .groupBy("id")
        .agg(min(col("component")).as("component"),
          max(when(col("own"), col("component"))).as("prev"))
        .localCheckpoint()
      changed = next.filter(col("component") =!= col("prev")).count()
      labels = next.select("id", "component")
      iter += 1
      // The fail-to-halve signal alone can misfire on bushy graphs
      // that legitimately converge in 3-5 rounds with slowly-decaying
      // change counts — but once `changed` is under ~1/64 of nodes the
      // remaining rounds are cheap regardless of regime, so gate the
      // halving test on an absolute fraction floor: bail only while
      // the front is still MOVING a material share of the graph.
      if (bailOnStall && changed > 0 &&
        (changed * 4 > nNodes ||
          (iter >= 2 && changed * 2 > prevChanged && changed * 64 > nNodes)))
        stalled = true
      prevChanged = changed
    }
    // a bailed/capped Auto prefix hands its (still persisted)
    // symmetrized frame to the fallback leg, which derives Star's
    // node set and canonical edge set from it with a filter instead
    // of a second symmetrize+distinct over the raw edges — the caller
    // owns the unpersist then
    if (bailOnStall && changed != 0L) (labels, false, nNodesSeen, Some(sym))
    else {
      sym.unpersist()
      (labels, changed == 0L, nNodesSeen, None)
    }
  }

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) — same contract as [[connectedComponents]]
    * (every node in the edge list labeled with the smallest
    * reachable id) but O(log² n) rounds REGARDLESS of graph
    * diameter, vs min-label's O(diameter). Near-dup components are
    * star-like (diameter ≤ a few) so min-label stays the default;
    * this is the swap-in for adversarial long-chain graphs (chained
    * boilerplate corpora), where min-label pays one round per hop:
    * a 128-node path costs min-label ~127 rounds and this ~6.
    *
    * Each round: large-star hooks every strictly-larger neighbor of
    * u to m(u) = min(u ∪ Γ(u)) — connectivity-preserving because
    * every edge (x, y), x > y is re-emitted from its smaller
    * endpoint's perspective; small-star then hooks u and all its
    * smaller neighbors to m(u). Both are one join + one
    * min-aggregation on node ids (same shuffle shape as a min-label
    * round); convergence is a MUTUAL fixed point (large-star AND
    * small-star both leave the edge set unchanged — checked with
    * set-equality via distinct counts, no row data to the driver),
    * which holds exactly when the edges form stars centered at each
    * component's minimum. Rounds localCheckpoint for the same
    * plan-depth reason as [[connectedComponents]].
    */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30): DataFrame =
    starComponents(edges, aCol, bCol, maxIter)._1

  /** [[connectedComponentsStar]] plus its round count (spec hook for
    * the O(log d) assertion).
    */
  private[graft] def starComponents(edges: DataFrame, aCol: String,
                                    bCol: String, maxIter: Int)
      : (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nodes = edges.select(col(aCol).as("id"))
      .unionByName(edges.select(col(bCol).as("id")))
      .distinct().persist(lvl)
    // Canonical undirected set: one (hi, lo) row per edge, self-loops
    // dropped (they carry no connectivity; the node set above still
    // remembers their endpoints).
    val cur0 = edges.filter(col(aCol) =!= col(bCol))
      .select(greatest(col(aCol), col(bCol)).as("x"),
        least(col(aCol), col(bCol)).as("y"))
      .distinct()
      .localCheckpoint()
    starLoop(nodes, cur0, maxIter)
  }

  /** The alternating large-star/small-star loop proper, over an
    * already-built `nodes(id)` frame (persisted — unpersisted here at
    * exit) and a canonical `(x=hi, y=lo)` distinct edge frame. Split
    * out so [[ComponentsAlgo.Auto]]'s fallback can derive both from
    * its prefix's symmetrized frame instead of paying a second
    * symmetrize+distinct pass over the raw edges.
    */
  private def starLoop(nodes: DataFrame, cur0: DataFrame, maxIter: Int)
      : (DataFrame, Int) = {
    var cur = cur0
    var curN = cur.count()
    // A == B for distinct frames iff |A| = |B| = |A ∪ B|.
    def sameSet(a: DataFrame, aN: Long, b: DataFrame, bN: Long): Boolean =
      aN == bN && a.unionByName(b).distinct().count() == aN
    var converged = curN == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val sym = cur.select(col("x").as("u"), col("y").as("v"))
        .unionByName(cur.select(col("y").as("u"), col("x").as("v")))
      val lm = sym.groupBy("u").agg(min(col("v")).as("__nm"))
        .select(col("u"), least(col("u"), col("__nm")).as("m"))
      // v > u ≥ m, so the (hi, lo) orientation is already canonical.
      val ls = sym.join(lm, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("y"))
        .filter(col("x") =!= col("y"))
        .distinct()
        .localCheckpoint()
      val lsN = ls.count()
      // cur is (hi, lo)-directed, so Γ(x) here is exactly the
      // smaller-neighbor set small-star operates on.
      val sm = ls.groupBy("x").agg(min(col("y")).as("m"))
      val ss = ls.join(sm, "x")
        .select(col("y").as("v"), col("m"))
        .unionByName(sm.select(col("x").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(greatest(col("v"), col("m")).as("x"),
          least(col("v"), col("m")).as("y"))
        .distinct()
        .localCheckpoint()
      val ssN = ss.count()
      converged = sameSet(ls, lsN, cur, curN) && sameSet(ss, ssN, ls, lsN)
      cur = ss
      curN = ssN
      iter += 1
    }
    // Converged edges are stars (leaf → component min); centers and
    // isolated nodes label themselves.
    val stars = cur.select(col("x").as("id"), col("y").as("component"))
      .groupBy("id").agg(min(col("component")).as("component"))
    val labels = nodes.join(stars, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint()
    nodes.unpersist()
    (labels, iter)
  }

  /** 32-bit SimHash over (non-distinct) tokens.
    *
    * Entirely row-local — a document's simhash never needs data from
    * any other row, so at 100 TB this is a pure map stage. Backed by
    * the native [[graft.functions.SimHash32]] kernel (one compiled
    * pass per doc); [[simhash32Composed]] keeps the pure-HOF
    * spelling, which the property spec asserts is byte-equal.
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), HashFunctions.simhash32(col(textCol)).as("simhash"))

  /** The composed HOF spelling of [[simhash32]] (token hashes
    * materialized once, 32 per-bit `aggregate` folds) — reference
    * implementation for the kernel-equivalence spec.
    */
  def simhash32Composed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withHashes = df.withColumn("__th",
      transform(TextOps.tokens(col(textCol)),
        w => HashFunctions.md5prefix64(w) % lit(4294967296L)))
    val simhash = (0 until 32).map { b =>
      val bitSum = aggregate(col("__th"), lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    withHashes.select(col(idCol), simhash.as("simhash"))
  }

  /** 64-bit SimHash over (non-distinct) tokens — the scale-safe
    * fingerprint behind [[simhashPairs]]. Row-local like
    * [[simhash32]]; backed by the native
    * [[graft.functions.SimHash64]] kernel. The wider fingerprint
    * matters at corpus scale twice over: 16-bit LSH bands give
    * 65 536 buckets per band (vs 256 for byte-bands of a 32-bit
    * fingerprint), and 64-bit fingerprints don't birthday-collide
    * until ~2^30 documents (32-bit saturates from ~10^5).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), HashFunctions.simhash64(col(textCol)).as("simhash"))

  /** The composed HOF spelling of [[simhash64]] (two 60-bit md5-prefix
    * token-hash arrays, 64 per-bit `aggregate` folds) — reference
    * implementation for the kernel-equivalence spec. The bit-63 term
    * is the sign bit; OR-recompose keeps the arithmetic exact.
    */
  def simhash64Composed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withHashes = df
      .withColumn("__t1",
        transform(TextOps.tokens(col(textCol)), w => HashFunctions.md5prefix64(w)))
      .withColumn("__t2",
        transform(TextOps.tokens(col(textCol)),
          w => conv(substring(md5(w), 16, 15), 16, 10).cast("long")))
    val simhash = (0 until 64).map { b =>
      val bits = if (b < 60) col("__t1") else col("__t2")
      val sh = if (b < 60) b else b - 60
      val bitSum = aggregate(bits, lit(0),
        (acc, h) => acc + when(shiftright(h, sh).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    withHashes.select(col(idCol), simhash.as("simhash"))
  }

  /** Per-document non-overlapping `c`-token chunk hashes
    * (id, pos, ch) — the span-dedup unit (F8). Docs shorter than one
    * chunk yield no rows. The short-doc filter tests the GENERATED
    * pos column (posexplode_outer of a null array → null pos), not an
    * inlined tokenize expression — a `size(tokens(text)) ≥ c` filter
    * would be pushed into the scan and evaluate the tokenizer a
    * second time, below the repartition (the round-1 f2 lesson).
    */
  def chunkSet(df: DataFrame, idCol: String, textCol: String, c: Int): DataFrame =
    df.repartition(col(idCol))
      .withColumn("__ws", TextOps.tokens(col(textCol)))
      .withColumn("__nc", floor(size(col("__ws")) / c).cast("int"))
      .select(col(idCol),
        posexplode_outer(when(col("__nc") > 0,
          transform(sequence(lit(0), col("__nc") - 1),
            i => concat_ws(" ", slice(col("__ws"), i * c + 1, lit(c)))))))
      .withColumnRenamed("col", "chunk")
      .filter(col("pos").isNotNull)
      .select(col(idCol), col("pos").cast("int").as("pos"),
        HashFunctions.md5prefix64(col("chunk")).as("ch"))

  /** Span-level dedup stats (F8): every repeat of a chunk anywhere in
    * the corpus counts as a duplicate; the keeper of each distinct
    * chunk is the lexicographically-smallest (id, pos). The chunk
    * frame is persisted — it feeds the keeper stages and the marking
    * join (one corpus scan + tokenization, not three). The pair-min
    * is TWO-STAGE (min id per chunk, then min pos within the keeper
    * doc) so every aggregation is a plain hash aggregate with
    * map-side combine — a one-shot `min(struct(id, pos))` has no
    * hash-aggregable buffer and falls back to SortAggregate. All
    * shuffles carry 8-byte chunk hashes.
    */
  def spanDedupStats(df: DataFrame, idCol: String, textCol: String,
                     c: Int): DataFrame = {
    val chunks = persistTracked(chunkSet(df, idCol, textCol, c))
    val kdoc = chunks.groupBy("ch").agg(min(col(idCol)).as("kdoc"))
    val keeper = chunks.join(kdoc, "ch")
      .filter(col(idCol) === col("kdoc"))
      .groupBy("ch", "kdoc").agg(min(col("pos")).as("kpos"))
    chunks.join(keeper, "ch")
      .withColumn("__kept",
        col(idCol) === col("kdoc") && col("pos") === col("kpos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__kept").cast("int")).as("n_kept"))
      .withColumn("kept_ratio",
        col("n_kept").cast("double") / col("n_chunks"))
  }

  /** Exact-substring dedup stats (F14; Lee et al. 2022): every
    * k-token span that occurs anywhere else in the corpus — ANY
    * offset, either document, including earlier in the SAME document
    * — is a duplicate; one occurrence of each distinct span survives
    * at the lexicographically-smallest (id, pos). This is the
    * suffix-array ExactSubstr method re-expressed for a distributed
    * engine: stride-1 positioned window hashes
    * ([[graft.functions.HashFunctions.tokenWindowHashes64]] — O(n)
    * double Rabin–Karp per doc, row-local) stand in for suffix-array
    * match enumeration, and F8's two-stage min-keeper picks
    * survivors. Fixed-chunk F8 misses a repeat whose offsets differ
    * by a non-multiple of the chunk size; stride 1 catches every
    * ≥ k-token repeat at any alignment (SubstringDedupSpec pins
    * exactly that case).
    *
    * Output per document: n_tokens, n_windows, n_dup_windows
    * (windows whose keeper is elsewhere), and n_dup_tokens — the
    * union length of the duplicate windows' [pos, pos+k) intervals,
    * i.e. how many tokens the paper's method would cut. The union is
    * Σ min(k, next_pos − pos) over consecutive duplicate positions
    * per doc (one lead() window, integer-exact — no interval
    * materialization).
    *
    * Scale shape: the only corpus-sized shuffles carry (id, pos,
    * 8-byte window hash) — keeper aggregation and marking join are
    * keyed on the hash, coverage is one doc-keyed window + one
    * map-side-combined aggregation; document text never moves after
    * the scan. Stride 1 emits ~n rows per doc vs F8's n/c — the
    * honest cost of offset-exactness (the paper pays the same: one
    * suffix per token).
    */
  def substringDedupStats(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 50): DataFrame = {
    // posexplode_outer: keeps <k-token docs (null pos → zero
    // windows) AND dodges InferFiltersFromGenerate re-running the
    // kernel inside an inferred filter (the p13 explode lesson).
    val base = persistTracked(df
      .select(col(idCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
        posexplode_outer(
          HashFunctions.tokenWindowHashes64(col(textCol), k)).as(Seq("pos", "h"))))
    val wins = base.filter(col("pos").isNotNull)
    val kdoc = wins.groupBy("h").agg(min(col(idCol)).as("kdoc"))
    val keeper = wins.join(kdoc, "h")
      .filter(col(idCol) === col("kdoc"))
      .groupBy("h", "kdoc").agg(min(col("pos")).as("kpos"))
    val dup = wins.join(keeper, "h")
      .filter(!(col(idCol) === col("kdoc") && col("pos") === col("kpos")))
      .select(col(idCol), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val cov = dup.withColumn("np", lead(col("pos"), 1).over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(when(col("np").isNull, lit(k))
          .otherwise(least(lit(k), col("np") - col("pos")))).as("n_dup_tokens"))
    base.groupBy(col(idCol))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(col("pos")).as("n_windows"))
      .join(cov, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup_windows", "n_dup_tokens"))
  }

  /** F14c's window-length sizing report in ONE corpus scan — the
    * e14f/e25d one-scan-instrument treatment applied to
    * exact-substring dedup: corpus-total window count, duplicate
    * windows and duplicate-token coverage at every window size in
    * `ks`, from a single tokenize+hash pass. The window sizes must
    * form a doubling chain (25, 50, 100, …): the
    * [[graft.functions.HashFunctions.tokenWindowHashGrid]] kernel
    * computes the base-k streams once and composes each wider level
    * per prime via h_2k(p) = (h_k(p)·B^k + h_k(p+k)) mod P — exact
    * for a polynomial hash, so every level is bit-identical to the
    * direct [[substringDedupStats]] hashes (spec-pinned), and the
    * three-scan spelling (one full F14 pass per k) collapses to one.
    *
    * Scale shape: ONE FileScan by construction (the grid explodes in
    * hash space, level-tagged; the exploded frame persists and feeds
    * keeper aggregation, marking join and totals). All corpus-sized
    * shuffles carry (k, 8-byte hash) keys; the level fan-out is
    * Σ_k (n−k+1) ≈ |ks|·n rows over the SAME exchange, where the
    * per-k spelling paid |ks| separate scans + tokenizations + hash
    * passes. Levels with no windows anywhere still report (anchored
    * on the literal k list, zeros filled — the honest "this k cuts
    * nothing" row).
    */
  def substringWindowLengthReport(df: DataFrame, idCol: String,
                                  textCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "at least one window size required")
    require(ks.distinct.size == ks.size,
      s"duplicate window sizes in $ks: the level explode would " +
        "double-count their windows (gridSizingReport's rule)")
    val sorted = ks.sorted
    val k0 = sorted.head
    sorted.zipWithIndex.foreach { case (k, i) =>
      require(k == (k0 << i),
        s"window sizes must form a doubling chain from $k0 (got $k at " +
          s"level $i): the one-scan Horner composition depends on it") }
    val frame = persistTracked(df
      .repartition(col(idCol))
      .select(col(idCol),
        explode(graft.functions.HashFunctions.tokenWindowHashGrid(
          col(textCol), k0, sorted.size)).as("kw"))
      .select(col(idCol), col("kw.k").as("k"),
        col("kw.pos").as("pos"), col("kw.h").as("h")))
    val kdoc = frame.groupBy("k", "h").agg(min(col(idCol)).as("kdoc"))
    val keeper = frame.join(kdoc, Seq("k", "h"))
      .filter(col(idCol) === col("kdoc"))
      .groupBy("k", "h", "kdoc").agg(min(col("pos")).as("kpos"))
    val dup = frame.join(keeper, Seq("k", "h"))
      .filter(!(col(idCol) === col("kdoc") && col("pos") === col("kpos")))
      .select(col("k"), col(idCol), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"), col(idCol)).orderBy(col("pos"))
    val covTot = dup.withColumn("np", lead(col("pos"), 1).over(w))
      .groupBy("k")
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(when(col("np").isNull, col("k"))
          .otherwise(least(col("k"), col("np") - col("pos"))))
          .cast("long").as("n_dup_tokens"))
    val winTot = frame.groupBy("k").agg(count(lit(1)).as("n_windows"))
    val spark0 = df.sparkSession
    import spark0.implicits._
    sorted.toDF("k")
      .join(winTot, Seq("k"), "left")
      .join(covTot, Seq("k"), "left")
      .na.fill(0L, Seq("n_windows", "n_dup_windows", "n_dup_tokens"))
      .select(col("k"), col("n_windows"), col("n_dup_windows"),
        col("n_dup_tokens"))
  }

  /** The CUT step of exact-substring dedup (F14b) — what
    * [[substringDedupStats]] measures, applied: every token covered
    * by a duplicate (non-keeper) window is REMOVED from the
    * document; the keeper occurrence of each span survives verbatim.
    * This is the transform the paper's pipeline actually runs over
    * the corpus (drop the repeated bytes, keep one copy).
    *
    * Output per doc: n_tokens, n_tokens_after, and the deduplicated
    * text (kept tokens re-joined single-spaced — tokenization is the
    * suite's lowercase+\s+ contract, so original whitespace/case are
    * not preserved; this matches the h5-normalized representation
    * downstream stages consume).
    *
    * Scale shape: identical shuffles to the stats spelling (hash-
    * keyed keeper + doc-keyed aggregation); the reconstruction is
    * row-local — the duplicate positions collect into a per-doc
    * array (bounded by windows/doc, NOT corpus size) and one HOF
    * filter drops covered token indices. Cost of the membership test
    * is O(tokens · dup-windows) per doc — dup windows are few for
    * real corpora, and the whole step stays inside the scan stage.
    */
  def substringDedupCut(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 50): DataFrame = {
    val base = persistTracked(df
      .select(col(idCol), col(textCol),
        posexplode_outer(
          HashFunctions.tokenWindowHashes64(col(textCol), k)).as(Seq("pos", "h"))))
    val wins = base.filter(col("pos").isNotNull)
    val kdoc = wins.groupBy("h").agg(min(col(idCol)).as("kdoc"))
    val keeper = wins.join(kdoc, "h")
      .filter(col(idCol) === col("kdoc"))
      .groupBy("h", "kdoc").agg(min(col("pos")).as("kpos"))
    val dupPos = wins.join(keeper, "h")
      .filter(!(col(idCol) === col("kdoc") && col("pos") === col("kpos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__dups"))
    base.select(col(idCol), col(textCol)).distinct()
      .join(dupPos, Seq(idCol), "left")
      .withColumn("__dups", coalesce(col("__dups"), array().cast("array<int>")))
      .withColumn("__ws", TextOps.tokens(col(textCol)))
      .withColumn("__kept", filter(col("__ws"),
        (_, i) => !exists(col("__dups"),
          p => p <= i && i < p + lit(k))))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_tokens_after"),
        array_join(col("__kept"), " ").as("text_dedup"))
  }

  /** SimHash near-dup PAIRS via banded Hamming LSH (the Manku/Jain/
    * Sarma WWW'07 scheme): the 64-bit fingerprint splits into 4
    * 16-bit bands; a pair within Hamming distance `maxHamming` ≤ 3
    * can flip bits in at most 3 bands, so by pigeonhole it agrees
    * EXACTLY on ≥ 1 band — candidate generation is 4 equality
    * self-joins (Σ bucket² work over 65 536 buckets per band), never
    * all-pairs, and banding is LOSSLESS at this radius (every true
    * pair is a candidate; the bit_count(xor) verify then filters
    * exactly). 16-bit bands are what makes this survive corpus
    * scale: byte-bands of a 32-bit fingerprint cap at 256 buckets
    * per band (candidate work ≈ N²/256), and 32-bit fingerprints
    * birthday-collide from ~10^5 docs, flooding buckets with false
    * twins; 65 536 buckets and a 64-bit fingerprint push both
    * cliffs out by ~2^8 and ~2^16 respectively. The fingerprint
    * frame is persisted: it feeds both self-join sides.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingBandPairs(
      simhash64(df.repartition(col(idCol)), idCol, textCol),
      idCol, "simhash", maxHamming)

  /** The banded Hamming join of [[simhashPairs]], generalized to ANY
    * precomputed 64-bit fingerprint column — text SimHash (F4b),
    * media perceptual hashes (I4), any locality-sensitive 64-bit
    * print. Same losslessness contract: radius ≤ 3 over 4 16-bit
    * bands. The print frame is persisted here (it feeds both
    * self-join sides).
    */
  def hammingBandPairs(prints: DataFrame, idCol: String, printCol: String,
                       maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 16-bit bands are only lossless for Hamming radius <= 3")
    val sim = persistTracked(prints)
    val banded = sim.select(col(idCol), col(printCol),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col(printCol), b * 16).bitwiseAND(lit(65535L)).as("bv"))
        }: _*)).as("bb"))
      .select(col(idCol), col(printCol),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val l = banded.select(col(idCol).as("a"), col(printCol).as("sa"),
      col("band"), col("bv"))
    val r = banded.select(col(idCol).as("b"), col(printCol).as("sb"),
      col("band"), col("bv"))
    l.join(r, Seq("band", "bv")).filter(col("a") < col("b"))
      .groupBy("a", "b", "sa", "sb").agg(count(lit(1)).as("n_bands"))
      .withColumn("hamming",
        expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming", "n_bands")
  }

  /** Generalized banded Hamming join — multi-index hashing (Norouzi,
    * Punjani & Fleet, CVPR 2012): split the 64-bit print into
    * `nBands` equal substrings; by pigeonhole any pair within Hamming
    * radius `nBands - 1` agrees exactly on ≥ 1 band, so a per-band
    * equi-join is LOSSLESS at that radius. Wider radius ⇒ more,
    * narrower bands ⇒ larger buckets (candidates grow as Σ bucket²
    * per band) — the caller picks the radius/selectivity point. The
    * 8-band default is the real-pHash operating point (lossless to
    * radius 7, which covers lossy re-encode + 2× resize drift).
    * Measured trade (HISTORY.md, "Perceptual banding: radius against
    * selectivity"): at 300k prints the 8-bit buckets
    * generate ~500× the candidates of [[hammingBandPairs]]'s 16-bit
    * buckets (1.55G vs 3.1M, both ∝ N²) — so radius 7 on 64-bit
    * prints is the MICROBATCH/bounded-pool operating point (J16's
    * batch-vs-index screen, i5b's bounded corpus); corpus-scale
    * all-pairs should narrow to radius 3. (Lengthening the code does
    * NOT relax this: 256-bit fine-DCT bits drift 23 % under
    * re-encode vs 11 % for the low 64 — [[MediaCodec.phash256]] is a
    * confirm metric, not a banding key.)
    */
  def hammingBandPairsWide(prints: DataFrame, idCol: String, printCol: String,
                           maxHamming: Int, nBands: Int = 8): DataFrame = {
    require(64 % nBands == 0, s"nBands must divide 64, got $nBands")
    require(maxHamming <= nBands - 1,
      s"$nBands bands are only lossless for Hamming radius <= ${nBands - 1}")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sim = persistTracked(prints)
    val banded = sim.select(col(idCol), col(printCol),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col(printCol), b * width).bitwiseAND(lit(mask)).as("bv"))
        }: _*)).as("bb"))
      .select(col(idCol), col(printCol),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val l = banded.select(col(idCol).as("a"), col(printCol).as("sa"),
      col("band"), col("bv"))
    val r = banded.select(col(idCol).as("b"), col(printCol).as("sb"),
      col("band"), col("bv"))
    l.join(r, Seq("band", "bv")).filter(col("a") < col("b"))
      .groupBy("a", "b", "sa", "sb").agg(count(lit(1)).as("n_bands"))
      .withColumn("hamming",
        expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming", "n_bands")
  }

  /** Hamming-1 band-PROBE pairs — the SECOND band pass that closes
    * [[hammingBandPairsWide]]'s radius cliff (multi-index hashing
    * with per-band probing, Norouzi et al. 2012 §3.2): the PROBE
    * side's band values fan out to themselves plus every single-bit
    * flip (width+1 values per band), then equi-join the index side's
    * exact band values — a pair matches iff some band is within
    * Hamming 1, which pigeonhole guarantees whenever the total
    * distance ≤ 2·nBands − 1 (15 at 8 bands). Emits only pairs with
    * `minHamming < hamming ≤ maxHamming`: the ≤ minHamming pairs are
    * the FIRST pass's, so a two-pass screen never re-finds them.
    *
    * Cost model (why this is a second pass over a RESIDUAL, not the
    * default): probe fan-out is nBands·(width+1) rows per probe-side
    * asset (72 at 8×8-bit) — candidate volume ≈ (width+1)× the exact
    * band join's. Confining the probe side to first-pass-unmatched
    * assets keeps that multiplier off the corpus bulk (the i5c/i5d
    * lever: the measured 2-in-500 drift-8 tail lives entirely in the
    * unmatched residual, because a missed pair's endpoints matched
    * nothing). Pairs are normalized least/greatest, so probe-side ×
    * index-side double-hits collapse in the same aggregation that
    * counts band hits.
    */
  def hammingBandProbePairs(probe: DataFrame, index: DataFrame,
                            idCol: String, printCol: String,
                            minHamming: Int, maxHamming: Int,
                            nBands: Int = 8): DataFrame = {
    require(64 % nBands == 0, s"nBands must divide 64, got $nBands")
    require(maxHamming <= 2 * nBands - 1,
      s"Hamming-1 probing over $nBands bands is only lossless to radius ${2 * nBands - 1}")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def bandCol(b: Int) =
      shiftright(col(printCol), b * width).bitwiseAND(lit(mask))
    val probed = probe.select(col(idCol), col(printCol),
        explode(array((0 until nBands).flatMap { b =>
          struct(lit(b).as("band"), bandCol(b).as("bv")) +:
            (0 until width).map(j =>
              struct(lit(b).as("band"),
                bandCol(b).bitwiseXOR(lit(1L << j)).as("bv")))
        }: _*)).as("bb"))
      .select(col(idCol).as("pa"), col(printCol).as("spa"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val indexed = index.select(col(idCol), col(printCol),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"), bandCol(b).as("bv"))
        }: _*)).as("bb"))
      .select(col(idCol).as("pb"), col(printCol).as("spb"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    probed.join(indexed, Seq("band", "bv")).filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("a"),
        greatest(col("pa"), col("pb")).as("b"),
        when(col("pa") < col("pb"), col("spa")).otherwise(col("spb")).as("sa"),
        when(col("pa") < col("pb"), col("spb")).otherwise(col("spa")).as("sb"),
        col("band"))
      // DISTINCT bands, not hit count: when both endpoints sit on the
      // probe side, a matching band is found in both probe directions
      // (a's flip hits b AND b's flip hits a) and a plain count reads
      // up to 2x the true number of Hamming-1-matching bands — pair
      // identity was never affected, but n_bands is an audit value.
      .groupBy("a", "b", "sa", "sb")
      .agg(countDistinct(col("band")).as("n_bands"))
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") > minHamming && col("hamming") <= maxHamming)
      .select("a", "b", "hamming", "n_bands")
  }
}

/** Algorithm selector for [[Dedup.components]] and its consumers. */
sealed abstract class ComponentsAlgo
object ComponentsAlgo {
  /** Min-label propagation: O(diameter) rounds, the cheaper round.
    * Default — near-dup components are star-like (diameter ≤ a few).
    */
  case object MinLabel extends ComponentsAlgo
  /** Alternating large-star/small-star (Kiveris et al. 2014):
    * O(log² n) rounds regardless of diameter — the adversarial
    * long-chain fallback.
    */
  case object Star extends ComponentsAlgo
  /** The measured crossover as a POLICY (HISTORY.md, "Components: Star
    * for chains, MinLabel for near-dup stars": MinLabel wins on
    * near-dup shapes, Star wins 2.9× at diameter 63): run
    * MinLabel capped at [[Dedup.AutoRoundCap]] rounds — past every
    * measured near-dup convergence (2–4) — and fall over to Star
    * when the cap trips. Worst case pays the capped rounds twice;
    * best case (the common shape) is exactly MinLabel.
    */
  case object Auto extends ComponentsAlgo
}
