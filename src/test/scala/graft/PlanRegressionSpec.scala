package graft

/** Guards the 100 TB plan-shape claims SURVEY §5 makes: these are the
  * properties that make each query scale, so a regression here is a
  * scale bug even while results stay correct. Plans are taken from
  * the EXECUTED query (AQE-final), not the initial plan.
  */
class PlanRegressionSpec extends SparkSpecBase {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString.replace("\n", " ")
  }

  private def count(plan: String, op: String): Int = op.r.findAllIn(plan).length

  test("e4 star join: all four dims broadcast, fact shuffles once at most (aggregation only)") {
    val p = executedPlan("e4_star_join")
    assert(count(p, "BroadcastHashJoin") == 4, p.take(400))
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "Exchange hashpartitioning") <= 1)
  }

  test("c1 latest-state: one key shuffle, rank pruned via WindowGroupLimit, no join") {
    val p = executedPlan("c1_latest_state")
    assert(count(p, "Exchange hashpartitioning") == 1)
    assert(count(p, "WindowGroupLimit") >= 1)
    assert(count(p, "Join") == 0)
  }

  test("d2 time range: the raw-nanos range predicates reach the parquet scan") {
    // ts_ns aliases the raw parquet `ts` long, so the pushed filters
    // name `ts` — a range push on the conversion EXPRESSION would be
    // impossible (that is the point of exposing the raw column).
    val p = executedPlan("d2_time_series")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,".r.findFirstIn(p).isDefined,
      p.take(600))
  }

  test("d3b modulo decimation: no hash shuffle, no single-partition funnel") {
    val p = executedPlan("d3b_modulo_sample")
    assert(count(p, "Exchange hashpartitioning") == 0)
    assert(count(p, "Exchange SinglePartition") == 0)
    // the modulo predicate itself is evaluated at the scan
    assert("DataFilters: \\[[^\\]]*% 40".r.findFirstIn(p).isDefined, p.take(600))
  }

  test("f2 jaccard: consumers read the persisted shingle set, not fresh scans") {
    val p = executedPlan("f2_dedup_ngram_jaccard")
    assert(count(p, "InMemoryTableScan") >= 4, p.take(400))
  }

  test("p13 DSIR: feature frame cached for both consumers, ratios broadcast, top-K via TakeOrdered") {
    val p = executedPlan("p13_dsir_resampling")
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(400))
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "BroadcastHashJoin") >= 1)
    // bucket stats and the per-doc dot product both read the cached
    // (doc, bucket) counts — one corpus explode, not two
    assert(count(p, "InMemoryTableScan") >= 2)
  }

  test("h13 chunking: zero hash shuffles — pure scan-and-emit") {
    val p = executedPlan("h13_window_chunks")
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0)
  }

  test("e25b heavy hitters: MG sketch aggregates as ObjectHashAggregate (no sort fallback), verify join broadcast") {
    val p = executedPlan("e25b_heavy_hitters")
    assert(count(p, "ObjectHashAggregate") == 2, p.take(400))
    assert(count(p, "SortAggregate") == 0)
    assert(count(p, "BroadcastHashJoin") >= 1)
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("p16 leakage split: the corpus side joins the component memo broadcast, zero corpus shuffles") {
    val p = executedPlan("p16_leakage_safe_split")
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
    assert(count(p, "BroadcastHashJoin") == 1)
  }

  test("p5 mixture sampling: the keep decision is shuffle-free") {
    val p = executedPlan("p5_source_mixing")
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
  }

  test("e25 top-K: one count shuffle, top-K via TakeOrdered (no global sort)") {
    val p = executedPlan("e25_topk_frequent")
    assert(count(p, "Exchange hashpartitioning") == 1)
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(400))
  }

  test("h7 unigram NLL: consumers share the cached token explode, bounded shuffles") {
    val p = executedPlan("h7_unigram_logprob")
    // All three token-level consumers (total, DF, probe) read the
    // persisted (doc_id, w) frame — the corpus is scanned+tokenized
    // once. Each InMemoryTableScan replica prints the cache-build
    // plan (which holds exactly one exchange, the doc repartition),
    // so the REAL shuffle count is the string count minus one per
    // consumer.
    assert(count(p, "InMemoryTableScan") >= 3, p.take(400))
    assert(count(p, "Exchange hashpartitioning") -
      count(p, "InMemoryTableScan") <= 4, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
  }

  test("e20b window funnel: per-step joins are keyed, never cartesian") {
    val p = executedPlan("e20b_window_funnel")
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(400))
  }

  test("g1 brute force: query side broadcast, corpus never shuffles before scoring") {
    val p = executedPlan("g1_knn_bruteforce")
    assert(count(p, "BroadcastNestedLoopJoin") + count(p, "BroadcastHashJoin") >= 1)
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("f8 span dedup: chunk frame cached for all consumers, keeper picks are hash aggregates") {
    val p = executedPlan("f8_span_dedup")
    assert(count(p, "InMemoryTableScan") >= 3, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("g5 k-means: assignment is a row-local fold (packed broadcast centroids, no struct-min aggregation)") {
    val p = executedPlan("g5_kmeans")
    // one BroadcastNestedLoopJoin per assignment pass (single-row
    // packed centroid frame); no SortAggregate fallback anywhere
    assert(count(p, "BroadcastNestedLoopJoin") >= 2, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("d13 interpolation: bucket series cached, no unbounded-following frame") {
    val p = executedPlan("d13_interpolate")
    assert(count(p, "InMemoryTableScan") >= 2, p.take(400))
    // the O(n²) frame shape (see TimeSeriesQueries d13 comment)
    assert(count(p, "UnboundedFollowing") == 0, p.take(400))
  }

  test("d14 LTTB: rank window pruned via WindowGroupLimit") {
    val p = executedPlan("d14_lttb_downsample")
    assert(count(p, "WindowGroupLimit") >= 1, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
  }

  test("g7 IVF-PQ: index build is row-local, candidates keyed by cell (one broadcast join)") {
    val p = executedPlan("g7_ivf_pq")
    // cell assignment + PQ encode are projections — no aggregation or
    // expansion before the cell join; the only join is the broadcast
    // equality join on cell (queries broadcast, corpus streams)
    assert(count(p, "BroadcastHashJoin") == 1, p.take(400))
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "BroadcastNestedLoopJoin") == 0)
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "SortAggregate") == 0)
    // rank windows pruned before materializing
    assert(count(p, "WindowGroupLimit") >= 2, p.take(400))
  }

  test("g7b trained-codebook ANN: same fold-path plan shape as the demo codebook") {
    val p = executedPlan("g7b_ann_ivf_trained")
    assert(count(p, "BroadcastHashJoin") == 1, p.take(400))
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "SortAggregate") == 0)
  }

  test("f9 incremental dedup: keyed join (delta broadcastable), hash-only aggregation") {
    val p = executedPlan("f9_incremental_dedup")
    assert(count(p, "BroadcastHashJoin") + count(p, "SortMergeJoin") >= 1, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "BroadcastNestedLoopJoin") == 0)
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("f6 winnowing: row-local kernels only — no join, no window, one output sort") {
    val p = executedPlan("f6_winnowing")
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, " Window ") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0)
  }

  test("f4b simhash pairs: banded join on 16-bit band values, hash-only aggregation") {
    val p = executedPlan("f4b_simhash_pairs")
    assert(count(p, "BroadcastHashJoin") + count(p, "SortMergeJoin") >= 1)
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "SortAggregate") == 0, p.take(400))
    // both self-join sides read the persisted fingerprint frame
    assert(count(p, "InMemoryTableScan") >= 2, p.take(400))
  }

  test("p9 semantic dedup: candidate pairs keyed by cluster, hash-only aggregations") {
    // the candidate stage directly (the full operator checkpoints
    // its component iterations, hiding the pair join from the final
    // plan): the self-join must be an equi-join on the cluster id —
    // never an all-pairs product over the corpus
    import graft.operators.Embeddings
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val pairs = Embeddings.semanticPairs(
      Embeddings.kmeansAssignments(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 2), "vec_id", "embedding")
    pairs.write.format("noop").mode("overwrite").save()
    val pp = pairs.queryExecution.executedPlan.toString.replace("\n", " ")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cluster#"
      .r.findFirstIn(pp).isDefined, pp.take(600))
    assert(count(pp, "CartesianProduct") == 0)
    // and the query-level keep-best stage stays hash-aggregated
    val p = executedPlan("p9_semantic_dedup")
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("p10 curation v2: bloom probes at both scans, bounded shuffles, row-local gate") {
    val p = executedPlan("p10_curation_v2")
    // the bloom screen reaches the scans (definite-out + maybe branches)
    assert(count(p, "bloom_might_contain") >= 2, p.take(600))
    // pipeline-wide shuffle budget: dedup group + keeper join (+ the
    // sliver confirm under broadcast this is free) — the entropy gate
    // must add NO exchange (final rangepartitioning orderBy excluded)
    assert(count(p, "Exchange hashpartitioning") <= 3, p.take(600))
    assert(count(p, "CartesianProduct") == 0)
  }

  test("h11 bpe pairs: top-K via TakeOrdered, no global sort, one count shuffle past the shared token frame") {
    val p = executedPlan("h11_bpe_pairs")
    // the printed tree includes the SHARED token-frame build (its
    // doc_id repartition) — the pin is on what h11 adds: exactly one
    // pair-count exchange and a TakeOrdered, never a range sort
    assert(count(p, "Exchange hashpartitioning\\(pair") == 1, p.take(500))
    assert(count(p, "Exchange rangepartitioning") == 0, p.take(400))
    assert(count(p, "TakeOrdered") >= 1, p.take(400))
  }

  test("e31b time-range window: one key shuffle, no extra exchange for the frame") {
    val p = executedPlan("e31b_time_range_avg")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(400))
    assert(count(p, "Window") >= 1)
  }

  test("h10 char entropy: zero shuffles before the presentation sort") {
    val p = executedPlan("h10_char_entropy")
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
    assert(count(p, "Exchange SinglePartition") == 0, p.take(400))
  }

  test("p12 funnel: all four stage aggregates hash-based, never cartesian") {
    val p = executedPlan("p12_curation_funnel")
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("g10b banded binary ANN: banded equi-join, never cartesian, corpus side unshuffled before the join") {
    val p = executedPlan("g10b_ann_binary_banded")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(400))
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    // the probe side broadcasts; the corpus never exchanges to meet it
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(400))
    assert(count(p, "SortMergeJoin") == 0, p.take(400))
  }

  test("f11 OPH: signature extraction is a pure map stage — the band self-join is the only corpus join") {
    val p = executedPlan("f11_oph_minhash")
    // extraction side: no SortMergeJoin anywhere, no cartesian; the
    // only exchanges are the band-join key shuffle + the pair agg
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
    // both self-join sides read the ONE persisted band frame
    assert(count(p, "InMemoryTableScan") >= 2, p.take(400))
  }

  test("d16 geofence: ray-cast predicate is scan-stage codegen — no join, no shuffle before the output sort") {
    val p = executedPlan("d16_geofence")
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
  }

  test("h15 URL canonicalization: one canonical-key shuffle, all regex row-local") {
    val p = executedPlan("h15_url_canonicalize")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(400))
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("h14 quality classifier: weight lookup inlined — no join for the weight vector") {
    val p = executedPlan("h14_quality_classifier")
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("p17 PageRank: every iteration joins broadcast, the corpus side never shuffles") {
    val p = executedPlan("p17_domain_pagerank")
    assert(count(p, "SortMergeJoin") == 0, p.take(400))
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "BroadcastHashJoin") >= 6, p.take(400))  // 5 iters + doc join
  }

  test("f14 substring dedup: one cached window frame feeds all consumers, hash aggregates only, no cartesian") {
    val p = executedPlan("f14_substring_dedup")
    // window extraction (kernel posexplode) runs ONCE — keeper agg,
    // keeper-pos agg, marking join and the per-doc stats all read the
    // persisted frame
    assert(count(p, "InMemoryTableScan") >= 4, p.take(400))
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(400))
    // every aggregation is hash-based (min/count/sum over 8-byte keys)
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("f14c window-length report: ONE corpus scan feeds all three k — the grid explodes in hash space") {
    // the one-scan property is STRUCTURAL (TokenWindowHashGrid emits
    // all levels from one tokenize pass; the exploded frame persists
    // and feeds keeper agg, marking join and totals) — so every
    // FileScan the plan prints is the SAME cached-build scan replica:
    // exactly one distinct scan text (expr ids differ across distinct
    // subtrees, so the r13 three-pass spelling printed three).
    val p = executedPlan("f14c_window_length_report")
    assert(count(p, "InMemoryTableScan") >= 4, p.take(400))
    val scans = "FileScan parquet[^\\[]*\\[[^\\]]*\\]".r.findAllIn(p).toSet
    assert(scans.size == 1, scans.toString.take(600))
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("p28 operating report: the global rank window reads the grid-CELL aggregate, not a corpus-growing frame") {
    // the SinglePartition cumulative sum is unavoidable for a global
    // rank, but its INPUT must be the quantized-cell aggregate
    // (bounded by score range / grid step) — r13 ran it over the
    // distinct-score frame, which grows with corpus size because
    // micro-unit score sums are near-unique
    val p = executedPlan("p28_classifier_operating_report")
    assert(
      "Window \\[.*?Exchange SinglePartition.*?HashAggregate\\(keys=\\[cell"
        .r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("p3c decontamination: eval window set broadcast, corpus never sort-merge joins") {
    val p = executedPlan("p3c_train_decontaminate")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(400))
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
    // both split sides read the ONE persisted window frame
    assert(count(p, "InMemoryTableScan") >= 2, p.take(400))
  }

  test("p20b trained classifier: weight lookup stays inlined — no join in the serving plan") {
    val p = executedPlan("p20b_apply_trained_classifier")
    // training collects 64 rows driver-side BEFORE this plan builds;
    // the serving query itself must look exactly like h14's
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("e25c CMS heavy hitters: estimate probe below the exchange, hash aggregates only") {
    val p = executedPlan("e25c_heavy_hitters_cms")
    assert(p.contains("cms_estimate"), p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
    // every hash exchange feeding the exact count must have the CMS
    // probe in its subtree: non-candidate rows die before the wire
    val hashEx = "Exchange hashpartitioning[^)]*\\)".r.findAllIn(p).length
    assert(hashEx >= 1, p.take(400))
  }

  test("e13f HLL: register aggregation map-side combined, no sort aggregates, no joins") {
    val p = executedPlan("e13f_hll_distinct")
    assert(count(p, "SortAggregate") == 0, p.take(400))
    assert(count(p, "Join") == 0, p.take(400))
  }

  test("g13 hybrid RRF: term/stats/query frames broadcast, fusion never cartesian") {
    val p = executedPlan("g13_hybrid_rrf")
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    // exactly two broadcast loop joins by design: the scalar stats
    // crossJoin and the vector leg's broadcast(query) crossJoin
    assert(count(p, "BroadcastNestedLoopJoin") <= 2, p.take(400))
    // r17: dl rides the fused per-doc aggregation row, so the old
    // doc-grain tf⋈dl join is GONE — the only hash joins left are the
    // broadcast terms and dfT attaches (strictly fewer joins than the
    // three the pin used to allow)
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(400))
    // the one sort-based join left is the kw⋈vec full-outer fusion
    // (both sides rank-truncated): no doc-grain shuffle join remains
    assert(count(p, "SortMergeJoin") <= 1, p.take(400))
  }

  test("h17 gopher rules: row-local single-scan battery — no join, no shuffle before the output sort") {
    val p = executedPlan("h17_gopher_rules")
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
  }

  test("p12b gated funnel: stage aggregates hash-based, never cartesian") {
    val p = executedPlan("p12b_curation_funnel_gated")
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
  }

  test("p23 snapshot diff: keyed full-outer join only, hash aggregates, never cartesian") {
    val p = executedPlan("p23_snapshot_diff")
    assert(count(p, "CartesianProduct") == 0, p.take(400))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(400))
    assert(count(p, "SortAggregate") == 0, p.take(400))
    assert(count(p, "FullOuter") >= 1, p.take(400))
  }

  test("g15 JL serving: query side broadcast, projection row-local, corpus never sort-merge joins") {
    val p = executedPlan("g15_ann_jl")
    assert(count(p, "BroadcastNestedLoopJoin") + count(p, "BroadcastHashJoin") >= 1)
    assert(count(p, "SortMergeJoin") == 0, p.take(400))
  }

  test("h18 repetition battery: K26 kernel in the scan — no join, no shuffle before the output sort") {
    val p = executedPlan("h18_gopher_repetition")
    assert(count(p, "Join") == 0, p.take(400))
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(400))
    assert(count(p, "gramrepstats") >= 1, p.take(400))
  }

  test("f12 agreement: both candidate pair frames persisted — each pipeline executes once") {
    val p = executedPlan("f12_dedup_agreement")
    // text pairs feed (count + intersection), emb pairs feed (count +
    // intersection): 4 cache reads; a drop back to re-executed
    // subplans is the round-8 double-execution defect
    assert(count(p, "InMemoryTableScan") >= 4, p.take(400))
    assert(count(p, "CartesianProduct") == 0, p.take(400))
  }

  test("f15 paragraph dedup-cut: normalize/hash pass persisted for both consumers, no cartesian") {
    val p = executedPlan("f15_paragraph_dedup_cut")
    // keyed feeds the keeper election AND the cut join, and the
    // pre-sort result is persisted against the sampler re-execution:
    // the regression this pins is the 2.7x-waste first spelling
    // (67 s -> 24.5 s at sf10)
    assert(count(p, "InMemoryTableScan") >= 3, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
  }

  test("h16/h19: bigram facts come from the K27 kernel at distinct grain, one Generate, shared cache") {
    // the r9 spelling exploded one row PER OCCURRENCE from a
    // transform(sequence(...), named_struct(...)) HOF; the pin is the
    // kernel expression feeding the (single, cached) Generate and the
    // HOF gone — note the plan STRING repeats the cache-build subtree
    // under every InMemoryTableScan, so Generate counts are not 1
    // even though the build is one logical pass
    val p16 = executedPlan("h16_bigram_nll")
    assert(p16.toLowerCase.contains("bigramcounts"), p16.take(400))
    assert(!p16.contains("named_struct"), p16.take(400))
    assert(!p16.contains("sequence("), p16.take(400))
    val p19 = executedPlan("h19_kneser_ney_nll")
    assert(p19.toLowerCase.contains("bigramcounts"), p19.take(400))
    assert(!p19.contains("named_struct"), p19.take(400))
    // h19 reads the shared bigram fact cache (also shared with h16 in
    // one session) plus its own persisted c12
    assert(count(p19, "InMemoryTableScan") >= 3, p19.take(400))
    // and no size()>0 double-eval filter wraps the kernel
    assert(!p16.contains("size(bigramcounts"), p16.take(400))
  }

  test("h7/h8/p7/p14/p18: token facts come from the K28 kernel at distinct grain") {
    // the r9 spelling exploded one row PER TOKEN OCCURRENCE; the pin
    // is the kernel in the scan stage and the consumers reading the
    // shared cache — fact rows now scale with per-doc vocabulary
    for (q <- Seq("h7_unigram_logprob", "h8_bm25", "p7_vocab_coverage",
                  "p14_perplexity_buckets", "p18_curriculum_phases")) {
      val p = executedPlan(q)
      assert(p.toLowerCase.contains("tokencounts"), s"$q: ${p.take(400)}")
      assert(count(p, "InMemoryTableScan") >= 2, s"$q: ${p.take(400)}")
      assert(!p.contains("size(tokencounts"), q)
    }
  }

  test("dashboard pack: latest rank-pruned via one key shuffle, dims broadcast AFTER latest") {
    // the composition order that scales: latestBy prunes |events| →
    // |aircraft| through ONE hash exchange + WindowGroupLimit, THEN
    // the dimension joins broadcast over the small latest frame —
    // a sort-merge join or a second hash exchange here means the
    // enrichment happened on the raw event stream
    for (q <- Seq("d19_dashboard_global_opensky", "d21_dashboard_regional",
                  "d22_dashboard_local_nearest")) {
      val p = executedPlan(q)
      assert(count(p, "BroadcastHashJoin") == 1, s"$q: ${p.take(400)}")
      assert(count(p, "SortMergeJoin") == 0, q)
      assert(count(p, "WindowGroupLimit") >= 1, q)
      assert(count(p, "Exchange hashpartitioning") == 1, q)
    }
    val p20 = executedPlan("d20_dashboard_global_stream")
    assert(count(p20, "WindowGroupLimit") >= 1)
    assert(count(p20, "Exchange hashpartitioning") == 1, p20.take(400))
  }

  test("p9 family: repeated semanticDedup invocations share ONE memoized computation") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Embeddings
    val emb = graft.sources.Tables.embeddings(spark, sf)
    // equal (corpus, init, iters, tau, algo) → the SAME frame object:
    // the components loop's localCheckpoint scans are plan-cache-
    // opaque, so without the memo p9b and the bench's p9@sized each
    // re-ran the full training + label rounds (the r9 triple-bill)
    val first = Embeddings.semanticDedup(emb,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding", 2, 0.3)
    val second = Embeddings.semanticDedup(emb,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding", 2, 0.3)
    assert(first eq second)
    // and the shared frame is persisted: re-executions are cache reads
    first.write.format("noop").mode("overwrite").save()
    val p = first.queryExecution.withCachedData.toString
    assert(p.contains("InMemoryRelation"), p.take(400))
    // different parameterization (p9's k=8 vs p9b's sized k) does NOT
    // collapse to the same computation
    val other = Embeddings.semanticDedup(emb,
      emb.filter(col("vec_id") < 9), "vec_id", "embedding", 2, 0.3)
    assert(!(other eq first))
  }

  /** Cached relations `df` reads, counted through the plans of the
    * cached relations themselves: a frame cached over an uncached memo
    * entry counts fewer than one cached over a live entry.
    */
  private def cachedRelations(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def in(p: SparkPlan): Int = p.collect {
      case s: InMemoryTableScanExec => 1 + in(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => in(a.inputPlan)
    }.sum
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => 1 + in(r.cachedPlan)
    }.sum
  }

  /** A fresh input dir holding copies of the sf0.001 memo-site inputs:
    * no memo or catalog entry in this JVM can predate its path.
    */
  private def memoSiteInputs(): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("memo-site")
    Seq("documents", "embeddings").foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }

  /** Overwrites `dir`'s `input` with a different row subset of the
    * sf0.001 table: ids below 10 (k-means seeds, planted twins) and the
    * even ids.
    */
  private def rewriteSubset(dir: java.nio.file.Path, input: String): Unit = {
    import org.apache.spark.sql.functions.col
    val id = if (input == "embeddings") "vec_id" else "doc_id"
    graft.sources.Tables.table(spark, sf, input)
      .filter(col(id) < 10 || col(id) % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$input.parquet")
  }

  // Every TrackedCache.memo site, reached through a query that serves
  // from it, with the table it reads. `eager`: a miss runs Spark jobs
  // while the query is built (i11's media pairs are a lazily persisted
  // frame instead).
  Seq(
    ("f7_dedup_components", true, "documents"),
    ("i11_crossmodal_agreement", false, "documents"),
    ("i12_crossmodal_canonical", true, "documents"),
    ("h12_bpe_train", true, "documents"),
    ("h12c_bpe_train_bytes", true, "documents"),
    ("h23b_unigram_tokenize", true, "documents"),
    ("p9_semantic_dedup", true, "embeddings")
  ).foreach { case (q, eager, input) =>
    test(s"memo site $q: a second build starts no job; after release it recomputes") {
      import graft.operators.TrackedCache
      val dir = memoSiteInputs()
      val build = () => SparkEntry.queries(q)(spark, dir.toString)
      try {
        TrackedCache.release(spark)
        val (_, first) = jobsDuring(build())
        val cached = cachedRelations(first)
        val rows = first.count()
        val (hits, misses) = (TrackedCache.memoHits, TrackedCache.memoMisses)
        val (again, _) = jobsDuring(build())
        assert(again == 0)
        assert(TrackedCache.memoHits > hits && TrackedCache.memoMisses == misses)
        TrackedCache.release(spark)
        val (rebuilt, third) = jobsDuring(build())
        if (eager) assert(rebuilt > 0)
        // the rebuilt memo frame is cached again: a stale entry would
        // hand out its unpersisted frame
        assert(cachedRelations(third) == cached)
        assert(third.count() == rows)
      } finally {
        TrackedCache.release(spark)
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
    }

    test(s"memo site $q: after $input is overwritten, the next build recomputes without release") {
      import graft.operators.TrackedCache
      // rows in a canonical order: i11's one row and h12's eight
      // merges keep their count on any corpus, not their values
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val (dir, fresh) = (memoSiteInputs(), memoSiteInputs())
      try {
        val before = rows(SparkEntry.queries(q)(spark, dir.toString))
        rewriteSubset(dir, input)
        rewriteSubset(fresh, input)
        // the reference: the same query on a path no memo has seen
        val expected = rows(SparkEntry.queries(q)(spark, fresh.toString))
        assert(expected != before)
        val (resolutions, misses) = (graft.sources.Tables.resolutions, TrackedCache.memoMisses)
        val (jobs, rebuilt) = jobsDuring(SparkEntry.queries(q)(spark, dir.toString))
        assert(jobs > 0)
        assert(graft.sources.Tables.resolutions > resolutions)
        assert(TrackedCache.memoMisses > misses)
        assert(rows(rebuilt) == expected)
      } finally {
        TrackedCache.release(spark)
        Seq(dir, fresh).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
      }
    }
  }

  test("session memo: a build may call memo for another key") {
    import graft.operators.TrackedCache
    val outer = TrackedCache.memo(spark, ("spec-outer", 1)) {
      val inner = TrackedCache.memo(spark, ("spec-inner", 1))(spark.range(3).toDF("x"))
      inner.union(inner)
    }
    assert(outer.count() == 6)
    assert(TrackedCache.memo(spark, ("spec-outer", 1))(fail("outer rebuilt")) eq outer)
    assert(TrackedCache.memo(spark, ("spec-inner", 1))(fail("inner rebuilt")).count() == 3)
  }

  test("session memo: the 17th key evicts the oldest entry and untracks its frame") {
    import graft.operators.TrackedCache
    import org.apache.spark.storage.StorageLevel
    TrackedCache.release(spark)
    val frames = (1 to TrackedCache.MemoBound + 1).map(i =>
      TrackedCache.memo(spark, ("spec-bound", i))(
        TrackedCache.persist(spark.range(i).toDF("x"))))
    assert(frames.head.storageLevel == StorageLevel.NONE)
    assert(frames.tail.forall(_.storageLevel != StorageLevel.NONE))
    (2 to TrackedCache.MemoBound + 1).foreach(i =>
      TrackedCache.memo(spark, ("spec-bound", i))(fail(s"live key $i rebuilt")))
    var rebuilt = false
    TrackedCache.memo(spark, ("spec-bound", 1)) { rebuilt = true; spark.range(1).toDF("x") }
    assert(rebuilt)
    TrackedCache.release(spark)
  }

  test("h19 Kneser-Ney: model assembled at type level — type total broadcast, no cartesian, hash aggs only") {
    val p = executedPlan("h19_kneser_ney_nll")
    // the 1-row type-count total joins via broadcast nested loop, and
    // every count/doc aggregation is hash-based (map-side combined);
    // the regression this pins against is the round-9 first spelling
    // that joined the corpus-sized bigram frame four times and made
    // the sf1 oracle spill >80 GB
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "SortAggregate") == 0)
    // fact-side joins: bigram occurrences touch exactly ONE join with
    // the assembled type frame; the type-level assembly contributes
    // the rest — bounded by distinct-bigram cardinality, not corpus
    assert(count(p, "InMemoryTableScan") >= 2, p.take(400))
  }

  test("h20 lang classify: K29 kernel serving is fully join-free (weights inlined, truth carried)") {
    val p = executedPlan("h20_lang_classify")
    // the serving pass is a row-local kernel and the truth label is
    // CARRIED through the projection, not re-attached by a self-join
    // on doc_id; the 1280-weight model must NOT appear as a join
    // relation (it's codegen literals)
    assert(count(p, "Join") == 0, p.take(400))
    // langGramScores appears as the reference-object kernel call, so
    // no explode/Generate of a gram array reaches the plan
    assert(count(p, "Generate") == 0, p.take(400))
  }

  test("e14e grid quantiles: sketch aggregation hash-based, cumulative window over the SKETCH not the corpus") {
    val p = executedPlan("e14e_grid_quantile_sketch")
    // sketch build = one hash aggregation (map-side combined); no
    // sort aggregates, no cartesian; the rank window runs after the
    // sketch shuffle (cells), never over raw events
    assert(count(p, "SortAggregate") == 0, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "HashAggregate") >= 2, p.take(400))
  }

  test("e14f sizing report: sketches are hash aggregates, no corpus-wide window, no cartesian") {
    val p = executedPlan("e14f_grid_sizing_report")
    assert(count(p, "SortAggregate") == 0, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
    // finest sketch + per-grid fold + n + report read-out, each a
    // partial+final hash aggregate pair; the windows sort ≤ cells
    // rows per (grid, group), downstream of the sketch
    assert(count(p, "HashAggregate") >= 6, p.take(400))
    // the grid fan-out is the sketch-space explode — once per static
    // consumer of the folded sketch (cum + n; AQE dedups the subtree
    // at runtime via ReusedExchange, pinned by the one-scan test)
    assert(count(p, "Generate") <= 2, p.take(400))
    assert(count(p, "Generate") >= 1, p.take(400))
  }

  test("h20c confusable eval: both servings are join-free kernel passes; only matrix-scale joins remain") {
    val p = executedPlan("h20c_lang_confusable_eval")
    // per rate: serving = K29 kernel (zero gram Generate), model =
    // inlined literals; the only joins assemble the 5-row per-class
    // report frames — nothing corpus-sized joins anything
    assert(count(p, "Generate") == 0, p.take(400))
    assert(count(p, "CartesianProduct") == 0)
  }

  test("e14f sizing report: one corpus scan, structurally — a single FileScan feeds every grid") {
    // the one-scan property is now STRUCTURAL: the finest sketch is
    // built once and the grid fan-out happens in sketch space (the
    // explode), so even the pre-AQE plan has exactly one corpus scan
    // — no reliance on ReuseExchange firing. The folded sketch is
    // still consumed twice (cum + n), which AQE dedups via
    // ReusedExchange; assert both.
    val df = SparkEntry.queries("e14f_grid_sizing_report")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.replace("\n", " ")
    assert(p.contains("isFinalPlan=true"), p.take(300))
    val finalSection = p.split("== Initial Plan ==").head
    assert(count(finalSection, "FileScan parquet") == 1, finalSection.take(3000))
    assert(count(finalSection, "ReusedExchange") >= 1, finalSection.take(3000))
  }

  test("r14 additions: no cartesian, no sort aggregates anywhere") {
    // p26's manifest assembly joins small mix frames onto the
    // shard-grain aggregate; i12's keep-best crosses the best-frame
    // back into the labeled corpus; p18 rides the refactored shared
    // phase frame — all must stay hash-agg + broadcast/shuffle-hash
    // joins, never CartesianProduct or SortAggregate
    for (q <- Seq("p26_curriculum_shards", "i12_crossmodal_canonical",
        "p18_curriculum_phases")) {
      val p = executedPlan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q: ${p.take(400)}")
      assert(count(p, "SortAggregate") == 0, s"$q: ${p.take(400)}")
    }
  }

  test("r13 additions: every small-frame join broadcasts — no cartesian anywhere") {
    // f16's component-size window, h22's JSD grid, p27's three-method
    // scoreboard, p28's threshold explode and g16's probe chain all
    // cross small frames into corpus-sized ones: each must compile to
    // a broadcast join, never CartesianProduct
    for (q <- Seq("f16_softdedup_weights", "h22_token_drift_report",
        "p27_contamination_scoreboard", "p28_classifier_operating_report",
        "g16_nprobe_sizing")) {
      val p = executedPlan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q: ${p.take(400)}")
    }
  }
}
