package graft.queries

import graft.functions.HashFunctions
import graft.operators.{Dedup, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** F/H/I groups of SURVEY §2 — dedup family, text analysis and
  * multimodal metadata over the `documents` table. Oracle SQL mirrors
  * the exact same (md5-based, integer-exact) algorithms in DuckDB.
  */
object PipelineQueries {

  /** Per-session scratch dir for the shard-writer queries (p25/p26).
    * Keyed by the Spark applicationId so two concurrent runs over the
    * same corpus dir cannot race on one shared path (one overwriting
    * shard files while the other reads back its manifest); `& MaxValue`
    * instead of math.abs keeps Int.MinValue non-negative. Within one
    * session the path is stable, so re-write byte-identity specs hold.
    */
  private def shardScratchDir(s: org.apache.spark.sql.SparkSession,
      tag: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      s"${s.sparkContext.applicationId}_${dir.hashCode & Int.MaxValue}"

  /** DuckDB CTE producing the distinct word-4-gram shingle set
    * (mirror of TextOps.shingleSet with n=4).
    */
  private[queries] val ShingleCte =
    """words AS (
         SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
         FROM documents),
       sh0 AS (
         SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 3, 1) + 1),
           i -> array_to_string(ws[i:i+3], ' '))) AS sh
         FROM words),
       sh AS (SELECT DISTINCT doc_id,
         ('0x' || substr(md5(sh), 1, 15))::BIGINT AS shh FROM sh0)"""

  /** CTE chain through the per-(doc, band) MinHash signatures —
    * shared by the f3 pair query, f7 components and p1 pipeline.
    */
  private[queries] def minhashBandCtes: String = {
    val aList = Dedup.MinhashA.mkString("[", ", ", "]")
    val bList = Dedup.MinhashB.mkString("[", ", ", "]")
    s"""$ShingleCte,
       hx AS (SELECT doc_id, shh % 1000000007 AS b FROM sh),
       mh AS (
         SELECT doc_id, t.i,
           min(($aList[CAST(t.i + 1 AS INT)] * b + $bList[CAST(t.i + 1 AS INT)]) % 1000000007) AS mh
         FROM hx CROSS JOIN generate_series(0, 15) t(i)
         GROUP BY doc_id, t.i),
       bands AS (
         SELECT doc_id, CAST(i // 4 AS INT) AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
         FROM mh GROUP BY doc_id, i // 4)"""
  }

  /** Corpus ∪ the literal rule-exercise battery (h17/p12b) — the
    * oracle twin of the Spark-side unionByName over
    * [[graft.operators.QualityRules.BatteryDocs]].
    */
  private[queries] def corpusBatteryCte: String =
    s"""corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id, text FROM (VALUES ${graft.operators.QualityRules.batterySqlValues}) AS t(doc_id, text))"""

  /** CTE chain computing the Gopher+C4 rule battery over a `corpus`
    * CTE (doc_id, text) — mirror of
    * [[graft.operators.QualityRules.withRuleColumns]]. Ends in `gvp`
    * with all signal/rule/verdict columns. All-integer verdicts.
    */
  private[queries] def gopherRuleCtes: String =
    s"""gf AS (
         SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws,
           string_split(text, chr(10)) AS lns
         FROM corpus),
       gsig AS (
         SELECT doc_id, text,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(coalesce(list_aggregate(list_transform(ws, w -> length(w)), 'sum'), 0) AS BIGINT) AS sum_wchars,
           CAST(len(lns) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet_lines,
           CAST(len(list_filter(lns, l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS BIGINT) AS n_ellipsis_lines,
           CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash_chars,
           CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
           CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
           CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(ws, s))) AS BIGINT) AS n_req_stops,
           CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sentences,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem
         FROM gf),
       gr AS (
         SELECT *,
           n_words BETWEEN 50 AND 100000 AS r_word_count,
           (3 * n_words <= sum_wchars AND sum_wchars <= 10 * n_words) AS r_mean_word_len,
           10 * (n_hash_chars + n_ellipsis) <= n_words AS r_symbol_ratio,
           10 * n_bullet_lines < 9 * n_lines AS r_bullet_lines,
           10 * n_ellipsis_lines < 3 * n_lines AS r_ellipsis_lines,
           5 * n_alpha_words >= 4 * n_words AS r_alpha_words,
           n_req_stops >= 2 AS r_stopwords,
           (NOT has_brace) AS r_no_brace,
           (NOT has_lorem) AS r_no_lorem,
           n_sentences >= 3 AS r_min_sentences
         FROM gsig),
       gv AS (
         SELECT *,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet_lines
             AND r_ellipsis_lines AND r_alpha_words AND r_stopwords) AS gopher_pass,
           (r_no_brace AND r_no_lorem AND r_min_sentences) AS c4_pass,
           CASE WHEN NOT r_word_count THEN 'gopher_word_count'
                WHEN NOT r_mean_word_len THEN 'gopher_mean_word_len'
                WHEN NOT r_symbol_ratio THEN 'gopher_symbol_ratio'
                WHEN NOT r_bullet_lines THEN 'gopher_bullet_lines'
                WHEN NOT r_ellipsis_lines THEN 'gopher_ellipsis_lines'
                WHEN NOT r_alpha_words THEN 'gopher_alpha_words'
                WHEN NOT r_stopwords THEN 'gopher_stopwords'
                WHEN NOT r_no_brace THEN 'c4_brace'
                WHEN NOT r_no_lorem THEN 'c4_lorem'
                WHEN NOT r_min_sentences THEN 'c4_min_sentences'
                ELSE NULL END AS first_fail
         FROM gr),
       gvp AS (SELECT *, (gopher_pass AND c4_pass) AS pass FROM gv)"""

  private def minhashSql: String =
    s"""WITH $minhashBandCtes
       SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_bands
       FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
       GROUP BY 1, 2 ORDER BY a, b"""

  /** CTEs turning the banded-LSH pairs into components: symmetric
    * edges, then recursive reachability, component id = min reachable
    * node id (identical to the min-label-propagation fixed point).
    */
  private def componentCtes: String =
    s"""$minhashBandCtes,
       pairs AS (
         SELECT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         GROUP BY 1, 2),
       edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
       cnodes AS (SELECT DISTINCT x AS id FROM edges),
       walk(id, r) AS (
         SELECT id, id FROM cnodes
         UNION
         SELECT w.id, e.y FROM walk w JOIN edges e ON e.x = w.r),
       comp AS (SELECT id AS doc_id, min(r) AS component FROM walk GROUP BY id)"""

  /** CTE chain ending in `sim(doc_id, simhash)` — the 32-bit SimHash
    * mirror of Dedup.simhash32, shared by f4 and f4b.
    */
  private def simhashCtes: String = {
    val sums = (0 until 32)
      .map(b => s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(", ")
    val recompose = (0 until 32)
      .map(b => s"(CASE WHEN s_$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""words AS (
         SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
         FROM documents),
       tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
       th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT % 4294967296 AS th FROM tok),
       s AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
       sim AS (SELECT doc_id, $recompose AS simhash FROM s)"""
  }

  private def simhashSql: String =
    s"""WITH $simhashCtes
       SELECT doc_id, simhash FROM sim ORDER BY doc_id"""

  /** DuckDB mirror of Dedup.simhash64 (shared by f4c and f4b). Token
    * hash = TWO signed-BIGINT-safe 60-bit md5-prefix pieces (hex
    * chars 1-15, 16-30); fingerprint bits 0..59 voted by piece 1,
    * bits 60..63 by piece 2's low bits. Bit 63 recomposes as the
    * two's-complement sign term (-2^63), written as an expression so
    * the literal never overflows the parser's BIGINT range.
    */
  private def simhash64Ctes: String = {
    val sums = (0 until 64).map { b =>
      if (b < 60) s"SUM(CASE WHEN (t1 >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b"
      else s"SUM(CASE WHEN (t2 >> ${b - 60}) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b"
    }.mkString(", ")
    val recompose = (0 until 64).map { b =>
      val term = if (b == 63) "(-9223372036854775807 - 1)" else s"CAST(${1L << b} AS BIGINT)"
      s"(CASE WHEN s_$b > 0 THEN $term ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""words AS (
         SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
         FROM documents),
       tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
       th AS (SELECT doc_id,
         ('0x' || substr(md5(w), 1, 15))::BIGINT AS t1,
         ('0x' || substr(md5(w), 16, 15))::BIGINT AS t2 FROM tok),
       s AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
       sim64 AS (SELECT doc_id, $recompose AS simhash FROM s)"""
  }

  private def simhash64Sql: String =
    s"""WITH $simhash64Ctes
       SELECT doc_id, simhash FROM sim64 ORDER BY doc_id"""

  /** The (doc_id, token) explode, persisted — the shared subplan of
    * h7 (3 consumers), h8 (2) and p7 (2). All three build the frame
    * IDENTICALLY, so Spark's plan-keyed CacheManager resolves them to
    * one materialization: one corpus scan + tokenization serves every
    * token-level aggregation in the suite (the f2/f3 shingle-set
    * treatment applied to tokens).
    */
  private def tokFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.TrackedCache.persist(
      Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w")))

  /** The h7/h8/p7/p14 token fact frame: (doc_id, w, c) at DISTINCT-
    * token grain from the K28 one-pass kernel — fact rows scale with
    * per-doc VOCABULARY, not document length; frequency aggregations
    * and per-doc scores run count-weighted (Σ c ≡ the occurrence
    * counts, so every oracle stays per-occurrence SQL, unchanged).
    * The occurrence-grain [[tokFrame]] remains for the consumers
    * whose semantics genuinely need an occurrence STREAM (the
    * e25b/e25c sketch aggregates insert once per occurrence; the BPE
    * family iterates positions). Same explode_outer discipline as
    * [[sharedBigramCounts]]; same doc_id pre-partitioning as
    * tokFrame so per-doc aggregations reuse the partitioning.
    */
  private def sharedTokenCounts(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode_outer(graft.functions.HashFunctions.tokenCounts(col("text")))
          .as("tc"))
      .filter(col("tc").isNotNull)
      .select(col("doc_id"), col("tc.w").as("w"), col("tc.c").as("c"))

  /** The h16/h19 bigram fact frame: (doc_id, w1, w2, c) at DISTINCT-
    * bigram grain from the K27 one-pass kernel — tokenize + pair +
    * count per doc in one compiled loop, so no per-occurrence row
    * expansion ever exists and both NLL queries read ONE shared cache
    * (TrackedCache dedups the identical plan). explode_outer + isNotNull
    * instead of explode: InferFiltersFromGenerate would otherwise wrap
    * the kernel in a size()>0 filter and evaluate it twice per row
    * (the Dedup.hashedShingleSet lesson).
    */
  private def sharedBigramCounts(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode_outer(graft.functions.HashFunctions.bigramCounts(col("text")))
          .as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"),
        col("bg.c").as("c"))

  /** P18/P26 shared per-doc curriculum frame: (doc_id, phase 1..4) —
    * difficulty is h7's unigram NLL (exact q6/decimal spelling, so
    * the ORDERING KEY is bit-identical across engines), phases are
    * ntile(4) over the total order (avg_nll, doc_id). P18 reports the
    * per-phase source mix; P26 PACKS the corpus in this order. Both
    * consume this exact frame (and the matching SQL CTEs below), so
    * the two instruments cannot drift — the p27 scoreboard rule.
    */
  private def curriculumPhaseFrame(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = graft.operators.TrackedCache.persist(sharedTokenCounts(s, dir))
    val totals = tok.agg(sum(col("c")).as("__n_total"))
    val freq = tok.groupBy(col("w")).agg(sum(col("c")).as("__cnt"))
    val nll = QueryDefs.q6(-log(col("__cnt").cast("double") / col("__n_total")))
    tok.join(freq, "w")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(QueryDefs.q6(
        sum(nll.cast("decimal(18,6)") * col("c")).cast("double") / sum(col("c")))
        .as("avg_nll"))
      .withColumn("phase",
        ntile(4).over(Window.orderBy(col("avg_nll"), col("doc_id"))))
      .select(col("doc_id"), col("phase"))
  }

  /** The SQL mirror of [[curriculumPhaseFrame]] — CTEs ending in
    * `phased(doc_id, phase)`, shared verbatim by the p18 and p26
    * oracles.
    */
  private val curriculumPhasesSql: String = """tok AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
        tot AS (SELECT COUNT(*) AS n_total FROM tok),
        perdoc AS (
          SELECT doc_id,
            floor(CAST(SUM(CAST(
                floor(-ln(CAST(cnt AS DOUBLE) / n_total) * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_nll
          FROM tok JOIN freq USING (w) CROSS JOIN tot
          GROUP BY doc_id),
        phased AS (SELECT doc_id,
            ntile(4) OVER (ORDER BY avg_nll, doc_id) AS phase
          FROM perdoc)"""

  /** Shared I11/I12 construction (the p27 one-frame rule): the
    * planted multimodal corpus — sf docs 0..1999 plus, for base ids
    * 0..9, a both-modality twin (+100000: same caption, re-encoded
    * image), a text-only twin (+200000: same caption, fresh image)
    * and a media-only twin (+300000: fresh caption, re-encoded
    * image) — with its text pair list (f3's banded MinHash over
    * captions) and media pair list (i5b's real decode→DCT→band
    * pipeline). I11 measures the agreement between the two lists;
    * I12 unions them into the joint component graph. Both consume
    * these exact frames, so instrument and decision cannot drift.
    */
  private def crossModalFrames(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .filter(col("doc_id") < 2000)
    val planted = docs.filter(col("doc_id") < 10)
    val freshCaption = concat_ws(" ", lit("media"), lit("only"),
      lit("twin"), concat(lit("nr"), col("doc_id")),
      concat(lit("alpha"), col("doc_id")), concat(lit("beta"), col("doc_id")),
      concat(lit("gamma"), col("doc_id")), concat(lit("delta"), col("doc_id")))
    val corpus = docs
      .unionByName(planted.withColumn("doc_id", col("doc_id") + 100000))
      .unionByName(planted.withColumn("doc_id", col("doc_id") + 200000))
      .unionByName(planted.select((col("doc_id") + 300000).as("doc_id"),
        freshCaption.as("text")))
    val textPairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", 4)
      .select("a", "b")
    val ids = Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 2000)
      .repartition(s.sparkContext.defaultParallelism).as[Long]
    val recs = ids.mapPartitions(it => it.flatMap { id =>
      val png = graft.operators.MediaCodec.synthImagePng(id, 96, 96)
      val orig = graft.operators.Multimodal.MediaRecord(id, png, "image", "png")
      if (id < 10) {
        val re = graft.operators.MediaCodec.reencodeJpeg(png).get
        Iterator(orig,
          graft.operators.Multimodal.MediaRecord(id + 100000, re, "image", "jpeg"),
          graft.operators.Multimodal.MediaRecord(id + 200000,
            graft.operators.MediaCodec.synthImagePng(id + 200000, 96, 96),
            "image", "png"),
          graft.operators.Multimodal.MediaRecord(id + 300000, re, "image", "jpeg"))
      } else Iterator(orig)
    })
    // memoized: the decode→DCT→band pipeline is the expensive half of
    // these frames, i11 and i12 both consume the list, and the typed
    // decode closure defeats plan-keyed cache dedup (a fresh closure
    // instance per call ⇒ unequal plans), so without the memo the
    // second consumer would re-decode the whole corpus
    val mediaPairs = graft.operators.TrackedCache.memo(s,
        ("media-pairs", dir, Tables.fingerprint(s, dir, "documents")))(
      graft.operators.TrackedCache.persist(graft.operators.Multimodal
        .mediaNearDupPairsReal(s, recs, maxHamming = 7).select("a", "b")))
    (corpus, textPairs, mediaPairs)
  }

  /** The component assignment is an expensive ITERATIVE artifact
    * (driver-side loop of Spark jobs) consumed by f7, f16, p16, p1 and
    * p6 — a production pipeline materializes it once and reads it
    * everywhere, so the session does the same: one computation per
    * input dir, memoized. The underlying frames are persisted by
    * connectedComponents; re-running the loop per consumer would redo
    * every round's job even with warm caches.
    */
  private def componentsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    // Routed through the Auto policy (round 10): near-dup graphs are
    // star-like so this IS MinLabel's round loop; a corpus whose
    // boilerplate CHAINS components past the 5-round cap falls over
    // to Star automatically (same labeling — ComponentsSpec) instead
    // of running O(diameter) rounds. Callers who know the shape can
    // still pass the explicit algo through Dedup.components.
    graft.operators.TrackedCache.memo(s,
        ("components", dir, Tables.fingerprint(s, dir, "documents")))(
      Dedup.components(
          Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text", 4),
          "a", "b", graft.operators.ComponentsAlgo.Auto)
        .withColumnRenamed("id", "doc_id"))

  /** p3 oracle SQL (no final ORDER BY) — shared verbatim by the
    * per-method oracle and the p27 scoreboard.
    */
  private val p3SqlBase: String = """WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        sh0 AS (
          SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 7, 1) + 1),
            i -> array_to_string(ws[i:i+7], ' '))) AS sh
          FROM words),
        sh AS (SELECT DISTINCT doc_id,
          ('0x' || substr(md5(sh), 1, 15))::BIGINT AS shh FROM sh0),
        train AS (SELECT DISTINCT shh FROM sh WHERE doc_id >= 10)
        SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          CAST(COUNT(t.shh) AS BIGINT) AS n_contaminated,
          CAST(COUNT(t.shh) AS DOUBLE) / COUNT(*) AS contamination
        FROM (SELECT * FROM sh WHERE doc_id < 10) e
        LEFT JOIN train t ON e.shh = t.shh
        GROUP BY e.doc_id"""

  /** p3c oracle SQL (no final ORDER BY) — shared verbatim by the
    * per-method oracle and the p27 scoreboard, so no drift is
    * possible between them.
    */
  private val p3cSqlBase: String = """WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        th AS (
          SELECT doc_id, len(ws) AS n,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007) AS t1,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 998244353) AS t2
          FROM words),
        win AS (
          SELECT doc_id, unnest(range(0, n - 13 + 1)) AS p, t1, t2
          FROM th WHERE n >= 13),
        wh AS (
          SELECT doc_id,
            list_reduce(t1[CAST(p + 1 AS INT) : CAST(p + 13 AS INT)],
              (a, b) -> (a * 131 + b) % 1000000007) * 998244353
            + list_reduce(t2[CAST(p + 1 AS INT) : CAST(p + 13 AS INT)],
              (a, b) -> (a * 131 + b) % 998244353) AS h
          FROM win),
        ev AS (SELECT DISTINCT h FROM wh WHERE doc_id < 10),
        st AS (
          SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
            CAST(COUNT(ev.h) AS BIGINT) AS n_contaminated
          FROM (SELECT * FROM wh WHERE doc_id >= 10) t
          LEFT JOIN ev ON t.h = ev.h
          GROUP BY t.doc_id)
        SELECT d.doc_id, COALESCE(st.n_windows, 0) AS n_windows,
          COALESCE(st.n_contaminated, 0) AS n_contaminated,
          COALESCE(st.n_contaminated, 0) = 0 AS keep
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        LEFT JOIN st USING (doc_id)"""

  /** p3's eval-contamination frame (no presentation sort) — shared by
    * the per-method query and the p27 scoreboard. ONE shingle
    * computation over the whole corpus, split by doc_id (persisted
    * like the dedup family).
    */
  private def p3Frame(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame = {
    val sh = Dedup.sharedShingleSet(Tables.documents(s, dir), "doc_id", "text", 8)
    val evalSh = sh.filter(col("doc_id") < 10)
    val trainSh = sh.filter(col("doc_id") >= 10)
      .select("shh").distinct().withColumn("__hit", lit(1))
    evalSh.join(trainSh, Seq("shh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles"))
  }

  /** p3c's train-decontamination frame (no presentation sort) —
    * shared by the per-method query and the p27 scoreboard.
    * Sub-13-token train docs have no windows — trivially clean, but
    * they still carry a keep verdict.
    */
  private def p3cFrame(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    val wins = graft.operators.TrackedCache.persist(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode_outer(graft.functions.HashFunctions
            .tokenWindowHashes64(col("text"), 13)).as("h"))
        .filter(col("h").isNotNull))
    val evalW = wins.filter(col("doc_id") < 10)
      .select("h").distinct().withColumn("__hit", lit(1))
    val stats = wins.filter(col("doc_id") >= 10)
      .join(broadcast(evalW), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(col("__hit")).as("n_contaminated"))
    Tables.documents(s, dir).filter(col("doc_id") >= 10)
      .select("doc_id")
      .join(stats, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_windows", "n_contaminated"))
      .withColumn("keep", col("n_contaminated") === 0L)
  }

  val defs: Seq[QueryDef] = Seq(

    // F1: exact dedup groups by content hash.
    QueryDef("f1_dedup_exact",
      (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("h"),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, COUNT(*) AS n_dups
        FROM documents GROUP BY md5(text) ORDER BY h""")),

    // F1b: exact dedup on 8-byte keys — the corpus-scale spelling
    // (the 32-char hex key of f1 is oracle-portable but shuffles 4x
    // the bytes; see Dedup.exactGroups64 for the collision story).
    QueryDef("f1b_dedup_exact64",
      (s, dir) => Dedup.exactGroups64(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("h"),
      Some("""SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h,
          min(doc_id) AS keep_id, COUNT(*) AS n_dups
        FROM documents GROUP BY 1 ORDER BY h""")),

    // F15: CCNet paragraph dedup-cut (Wenzek et al. 2020 §3.1) — the
    // pipeline's FIRST stage before the p14 perplexity buckets it
    // feeds: split docs into paragraphs, normalize per the paper
    // (lowercase, digits→0, punctuation stripped), drop every repeat
    // of a paragraph CORPUS-WIDE (keeper = first occurrence by
    // (doc_id, para_idx)), reconstruct each doc from its surviving
    // paragraphs, and drop docs with no non-empty survivor. This is
    // the published boilerplate-killer (shared headers/footers
    // collapse to one global copy) — distinct from F8's token-chunk
    // spans (paragraph boundaries, normalization) and from F1's
    // whole-doc hash. Corpus ∪ a 5-doc literal battery: corpus docs
    // are single-paragraph so the corpus-wide rule degenerates to
    // exact-doc dedup there (designed dup groups collapse, keeper
    // survives); the battery exercises shared header/footer cuts,
    // digit/punct/case variants collapsing under normalization, a
    // doc dropped entirely, and an empty paragraph passing through.
    // Scale shape: one groupBy on the 8-byte md5 prefix of the
    // normalized paragraph (shuffle carries (key, doc, idx) rows), one
    // join back, one per-doc aggregation — F1b's exact-dedup shape
    // at paragraph granularity.
    QueryDef("f15_paragraph_dedup_cut",
      (s, dir) => {
        import s.implicits._
        val battery = Seq(
          (920000L, "SHARED HEADER: welcome to the site!\nunique content for doc 920000 here\nshared footer (c) 2020"),
          (920001L, "SHARED HEADER: welcome to the site!\nanother unique middle paragraph\nshared footer (c) 2021"),
          (920002L, "SHARED HEADER: welcome to the site!\nshared footer (c) 2022"),
          (920003L, "totally unique paragraph one\n\ntotally unique paragraph two"),
          (920004L, "Shared Header: WELCOME to the site\nunique tail for doc 920004"))
          .toDF("doc_id", "text")
        val docs = Tables.documents(s, dir).select("doc_id", "text")
          .unionByName(battery)
        val paras = docs.select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("para_idx", "para")))
        val nrm = regexp_replace(
          regexp_replace(lower(col("para")), "[0-9]", "0"), "[^a-z0-9 ]", "")
        // persist: the normalize+hash pass feeds BOTH the keeper
        // election and the cut join — without it the two regex passes
        // and the md5 run twice over the full corpus (measured 2×)
        val keyed = graft.operators.TrackedCache.persist(paras
          .withColumn("k", HashFunctions.md5prefix64(nrm))
          .withColumn("empty", length(trim(nrm)) === 0))
        // keeper = lexicographic min(doc_id, para_idx) as a STRUCT —
        // not an encoded doc_id*1e6+para_idx scalar, which silently
        // collides across documents past 1M paragraphs/doc
        val keepers = keyed.filter(!col("empty"))
          .groupBy("k").agg(min(struct(col("doc_id"), col("para_idx")))
            .as("keep_key"))
        val cut = keyed.join(keepers, Seq("k"), "left")
          .withColumn("kept", col("empty") ||
            (col("doc_id") === col("keep_key.doc_id") &&
             col("para_idx") === col("keep_key.para_idx")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_paras"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(!col("kept"), length(col("para"))).otherwise(0L))
              .as("chars_removed"),
            collect_list(when(col("kept"),
              struct(col("para_idx"), col("para")))).as("kl"),
            sum(when(col("kept") && !col("empty"), 1L).otherwise(0L))
              .as("n_kept_nonempty"))
          .filter(col("n_kept_nonempty") > 0)
          .select(col("doc_id"), col("n_paras"), col("n_kept"), col("chars_removed"),
            concat_ws("\n",
              expr("transform(array_sort(kl), x -> x.para)")).as("text_kept"))
        // persist before the sort: range-partition sampling would
        // otherwise execute the whole cut+reassembly a second time
        graft.operators.TrackedCache.persist(cut).orderBy("doc_id")
      },
      Some("""WITH battery(doc_id, text) AS (VALUES
          (920000, 'SHARED HEADER: welcome to the site!' || chr(10) || 'unique content for doc 920000 here' || chr(10) || 'shared footer (c) 2020'),
          (920001, 'SHARED HEADER: welcome to the site!' || chr(10) || 'another unique middle paragraph' || chr(10) || 'shared footer (c) 2021'),
          (920002, 'SHARED HEADER: welcome to the site!' || chr(10) || 'shared footer (c) 2022'),
          (920003, 'totally unique paragraph one' || chr(10) || chr(10) || 'totally unique paragraph two'),
          (920004, 'Shared Header: WELCOME to the site' || chr(10) || 'unique tail for doc 920004')),
        all_docs AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM battery),
        p0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
            i -> {'idx': i - 1, 'para': ps[CAST(i AS INT)]})) AS u
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM all_docs)),
        paras AS (SELECT doc_id, CAST(u.idx AS BIGINT) AS para_idx, u.para AS para FROM p0),
        keyed AS (SELECT *,
            regexp_replace(regexp_replace(lower(para), '[0-9]', '0', 'g'), '[^a-z0-9 ]', '', 'g') AS nrm
          FROM paras),
        k2 AS (SELECT *, ('0x' || substr(md5(nrm), 1, 15))::BIGINT AS k,
            len(trim(nrm)) = 0 AS empty FROM keyed),
        keepers AS (SELECT k, min(doc_id) AS keep_doc FROM k2
          WHERE NOT empty GROUP BY k),
        keepers2 AS (SELECT k2.k AS k, keep_doc,
            min(para_idx) AS keep_idx
          FROM k2 JOIN keepers ON k2.k = keepers.k AND k2.doc_id = keepers.keep_doc
          WHERE NOT empty GROUP BY k2.k, keep_doc),
        kept AS (SELECT k2.*,
            (empty OR (doc_id = keep_doc AND para_idx = keep_idx)) AS kept
          FROM k2 LEFT JOIN keepers2 USING (k))
        SELECT doc_id, COUNT(*) AS n_paras,
          CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN NOT kept THEN len(para) ELSE 0 END) AS BIGINT) AS chars_removed,
          COALESCE(string_agg(CASE WHEN kept THEN para END, chr(10) ORDER BY para_idx), '') AS text_kept
        FROM kept GROUP BY doc_id
        HAVING CAST(SUM(CASE WHEN kept AND NOT empty THEN 1 ELSE 0 END) AS BIGINT) > 0
        ORDER BY doc_id""")),

    // F2: n-gram Jaccard near-dup candidates, top-20 by similarity.
    QueryDef("f2_dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir),
          "doc_id", "text", 4, 100)
        .orderBy(col("jac").desc, col("a"), col("b"))
        .limit(20),
      Some(s"""WITH $ShingleCte,
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        rare AS (SELECT shh FROM (SELECT shh, COUNT(*) c FROM sh GROUP BY shh) dfq WHERE c <= 100),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
          FROM (SELECT * FROM sh WHERE shh IN (SELECT shh FROM rare)) x
          JOIN sh y ON x.shh = y.shh AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT a, b, n_common,
          CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jac
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        ORDER BY jac DESC, a, b LIMIT 20""")),

    // F3: MinHash + banded LSH candidate pairs.
    QueryDef("f3_dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text", 4)
        .orderBy("a", "b"),
      Some(minhashSql)),

    // F11: ONE-PERMUTATION MinHash + LSH (Dedup.onePermBands) — the
    // production spelling of f3's signature extraction: one hash per
    // shingle routed to slot `shh % 16` (min per slot, empty slots
    // densified by circular rotation) instead of 16 affine passes per
    // shingle. Same single doc-keyed shuffle, ~16× less signature
    // arithmetic — at 100 TB extraction dominates the dedup bill, so
    // this is the spelling the daily batch runs. The oracle replays
    // slotting, rotation densification (a per-(doc, slot) argmin over
    // circular distance) and the band self-join; the Spark side joins
    // on 8-byte xxhash64 band sigs while the oracle keeps the
    // portable 4-tuple string — identical PAIR sets (the
    // minhashBands rationale).
    QueryDef("f11_oph_minhash",
      (s, dir) => Dedup.onePermLshPairs(Tables.documents(s, dir), "doc_id", "text", 4)
        .orderBy("a", "b"),
      Some(s"""WITH $ShingleCte,
        sparse AS (SELECT doc_id, shh % 16 AS bkt, min(shh) AS v
          FROM sh GROUP BY doc_id, shh % 16),
        grid AS (SELECT DISTINCT doc_id FROM sparse),
        cand AS (SELECT g.doc_id, t.b, s.v,
            row_number() OVER (PARTITION BY g.doc_id, t.b
              ORDER BY ((s.bkt - t.b) % 16 + 16) % 16) AS rn
          FROM grid g CROSS JOIN generate_series(0, 15) t(b)
          JOIN sparse s ON s.doc_id = g.doc_id),
        dense AS (SELECT doc_id, b, v FROM cand WHERE rn = 1),
        bands AS (SELECT doc_id, CAST(b // 4 AS INT) AS band,
            string_agg(CAST(v AS VARCHAR), ',' ORDER BY b) AS sig
          FROM dense GROUP BY doc_id, b // 4)
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_bands
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
        GROUP BY 1, 2 ORDER BY a, b""")),

    // F10: LSH quality report (Dedup.lshQualityReport) — measured
    // precision/recall of the banded candidates vs true n-gram
    // Jaccard at tau=0.5, per min-bands threshold. The oracle
    // recomputes BOTH sides (band pairs + jaccard truth) from the
    // shared shingle CTEs and replays the explode/aggregate/guarded
    // divisions exactly.
    QueryDef("f10_lsh_quality",
      (s, dir) => Dedup.lshQualityReport(Tables.documents(s, dir),
          "doc_id", "text", 4, 100, 0.5)
        .withColumnRenamed("precision", "prec"),
      Some(s"""WITH $minhashBandCtes,
        cand AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_bands
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        rare AS (SELECT shh FROM (SELECT shh, COUNT(*) c FROM sh GROUP BY shh) dfq
                 WHERE c <= 100),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
          FROM (SELECT * FROM sh WHERE shh IN (SELECT shh FROM rare)) x
          JOIN sh y ON x.shh = y.shh AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        jacp AS (SELECT a, b,
            CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jac
          FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b),
        tp AS (SELECT COUNT(*) AS n_true FROM jacp WHERE jac >= 0.5),
        scored AS (SELECT c.n_bands, COALESCE(j.jac, 0.0) >= 0.5 AS is_true
          FROM cand c LEFT JOIN jacp j ON j.a = c.a AND j.b = c.b),
        expl AS (SELECT unnest(range(1, n_bands + 1)) AS min_bands, is_true
          FROM scored),
        agg AS (SELECT min_bands, COUNT(*) AS n_candidates,
            COUNT(*) FILTER (is_true) AS n_true_candidates
          FROM expl GROUP BY min_bands)
        SELECT min_bands, n_candidates, n_true_candidates, n_true,
          CASE WHEN n_candidates > 0
            THEN CAST(n_true_candidates AS DOUBLE) / n_candidates END AS prec,
          CASE WHEN n_true > 0
            THEN CAST(n_true_candidates AS DOUBLE) / n_true END AS recall
        FROM agg CROSS JOIN tp ORDER BY min_bands""")),

    // F9: incremental near-dup screening — a delta batch (doc_id % 5
    // == 0) against the HISTORICAL band index (the rest), the shape
    // that avoids re-fingerprinting the corpus for each new batch:
    // history is an index read (here built once from the history
    // split), the delta fingerprints row-locally, and the only
    // corpus-scale work is the (band, sig)-keyed join.
    QueryDef("f9_incremental_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val histBands = Dedup.minhashBands(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 4)
        Dedup.incrementalNearDup(histBands,
            docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 4)
          .orderBy("delta_id", "hist_id")
      },
      Some(s"""WITH $minhashBandCtes
        SELECT d.doc_id AS delta_id, h.doc_id AS hist_id, COUNT(*) AS n_bands
        FROM bands d JOIN bands h ON d.band = h.band AND d.sig = h.sig
        WHERE d.doc_id % 5 = 0 AND h.doc_id % 5 != 0
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // F9b: the ZERO-index-shuffle spelling of f9 — the history band
    // index is WRITTEN bucketed+sorted on `sig` (the production
    // materialization; Dedup.writeBandIndex) and the delta screens
    // against the bucketed READ: the corpus-sized side needs no
    // exchange at all (asserted in BucketedBandIndexSpec), the only
    // shuffle is delta-sized — and that stays true when the delta
    // outgrows the broadcast threshold, which is where plain f9
    // falls back to re-shuffling the index every batch. Same answer
    // as f9 by construction (same bands, same join).
    QueryDef("f9b_incremental_dedup_bucketed",
      (s, dir) => {
        val table = s"g_band_idx_${math.abs(dir.hashCode)}"
        s.sql(s"DROP TABLE IF EXISTS $table")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        val docs = Tables.documents(s, dir)
        Dedup.writeBandIndex(Dedup.minhashBands(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 4), table, 8)
        Dedup.incrementalNearDupBucketed(s, table, "doc_id",
            docs.filter(col("doc_id") % 5 === 0), "text", 4)
          .orderBy("delta_id", "hist_id")
      },
      Some(s"""WITH $minhashBandCtes
        SELECT d.doc_id AS delta_id, h.doc_id AS hist_id, COUNT(*) AS n_bands
        FROM bands d JOIN bands h ON d.band = h.band AND d.sig = h.sig
        WHERE d.doc_id % 5 = 0 AND h.doc_id % 5 != 0
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // F4: 32-bit SimHash fingerprints. The operator itself is pure
    // map-side work; the repartition only spreads the single test
    // split across cores (see f6 note).
    QueryDef("f4_simhash",
      (s, dir) => QueryDefs.sortedSmall(
          Dedup.simhash32(
            Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text"),
          col("doc_id")),
      Some(simhashSql)),

    // F4c: 64-bit SimHash fingerprints — the scale-safe fingerprint
    // feeding f4b's 16-bit Hamming bands (see Dedup.simhash64).
    QueryDef("f4c_simhash64",
      (s, dir) => QueryDefs.sortedSmall(
          Dedup.simhash64(
            Tables.documents(s, dir).repartition(col("doc_id")), "doc_id", "text"),
          col("doc_id")),
      Some(simhash64Sql)),

    // F4b: SimHash near-dup PAIRS — banded Hamming LSH (4 16-bit
    // bands over the 64-bit fingerprint; pigeonhole makes banding
    // LOSSLESS for Hamming radius ≤ 3), candidates verified by
    // bit_count(xor). Candidate generation is Σ bucket² equality-join
    // work like f3/f5 — 65 536 buckets per band — never an all-pairs
    // scan.
    QueryDef("f4b_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir),
          "doc_id", "text", 3)
        .orderBy("a", "b"),
      Some(s"""WITH $simhash64Ctes,
        b0 AS (SELECT doc_id, simhash,
            unnest(list_transform(range(0, 4),
              b -> {'band': b, 'bv': (simhash >> CAST(b * 16 AS INT)) & 65535})) AS u
          FROM sim64),
        banded AS (SELECT doc_id, simhash, CAST(u.band AS INT) AS band, u.bv AS bv FROM b0),
        pairs AS (
          SELECT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb,
            COUNT(*) AS n_bands
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming, n_bands
        FROM pairs WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""")),

    // F8: span-level (chunk) dedup — C4/RefinedWeb-style: the corpus
    // splits into non-overlapping 8-token chunks and every chunk that
    // already occurred anywhere else (earlier doc, or earlier position
    // in the same doc) is dropped; exactly one occurrence of each
    // distinct chunk survives, at the lexicographically-smallest
    // (doc_id, pos). One hash aggregation chooses keepers (min struct,
    // map-side combined), one join marks rows — both shuffles carry
    // 8-byte chunk hashes, so at 100 TB this is the exact-dedup shape
    // applied below document granularity.
    QueryDef("f8_span_dedup",
      (s, dir) => Dedup.spanDedupStats(Tables.documents(s, dir),
          "doc_id", "text", 8)
        .orderBy("doc_id"),
      Some("""WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        ch0 AS (
          SELECT doc_id,
            unnest(list_transform(range(0, CAST(floor(len(ws) / 8) AS INT)),
              i -> {'pos': i,
                    'ch': ('0x' || substr(md5(array_to_string(ws[CAST(i * 8 + 1 AS INT) : CAST(i * 8 + 8 AS INT)], ' ')), 1, 15))::BIGINT})) AS u
          FROM words WHERE len(ws) >= 8),
        chunks AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.ch AS ch FROM ch0),
        keeper AS (SELECT ch, min({'doc_id': doc_id, 'pos': pos}) AS k
                   FROM chunks GROUP BY ch)
        SELECT c.doc_id, COUNT(*) AS n_chunks,
          CAST(SUM(CASE WHEN c.doc_id = struct_extract(kp.k, 'doc_id')
                         AND c.pos = struct_extract(kp.k, 'pos')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN c.doc_id = struct_extract(kp.k, 'doc_id')
                         AND c.pos = struct_extract(kp.k, 'pos')
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS kept_ratio
        FROM chunks c JOIN keeper kp USING (ch)
        GROUP BY c.doc_id ORDER BY doc_id""")),

    // F14: EXACT-SUBSTRING dedup (Lee et al. 2022) — the canonical
    // training-data dedup method F8's fixed chunks approximate:
    // stride-1 positioned 50-token window hashes (double Rabin–Karp
    // kernel, O(n)/doc) + F8's min-keeper, so a repeated ≥50-token
    // span dedups at ANY offset (F8 misses unaligned repeats —
    // SubstringDedupSpec pins one). Per doc: window count, duplicate
    // windows, and the union token coverage the method would cut.
    // All-integer output; every corpus-sized shuffle carries (id,
    // pos, 8-byte hash). The oracle replays the double-Horner fold
    // per window (list_reduce seeds ≡ Horner-from-0 because elements
    // are pre-reduced below each modulus).
    QueryDef("f14_substring_dedup",
      (s, dir) => Dedup.substringDedupStats(Tables.documents(s, dir),
          "doc_id", "text", 50)
        .orderBy("doc_id"),
      Some("""WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        th AS (
          SELECT doc_id, len(ws) AS n,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007) AS t1,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 998244353) AS t2
          FROM words),
        win AS (
          SELECT doc_id, unnest(range(0, n - 50 + 1)) AS p, t1, t2
          FROM th WHERE n >= 50),
        wh AS (
          SELECT doc_id, CAST(p AS INT) AS pos,
            list_reduce(t1[CAST(p + 1 AS INT) : CAST(p + 50 AS INT)],
              (a, b) -> (a * 131 + b) % 1000000007) * 998244353
            + list_reduce(t2[CAST(p + 1 AS INT) : CAST(p + 50 AS INT)],
              (a, b) -> (a * 131 + b) % 998244353) AS h
          FROM win),
        kd AS (SELECT h, MIN(doc_id) AS kdoc FROM wh GROUP BY h),
        kp AS (
          SELECT w.h, w.doc_id AS kdoc, MIN(w.pos) AS kpos
          FROM wh w JOIN kd ON w.h = kd.h AND w.doc_id = kd.kdoc
          GROUP BY w.h, w.doc_id),
        dup AS (
          SELECT w.doc_id, w.pos,
            lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS np
          FROM wh w JOIN kp USING (h)
          WHERE NOT (w.doc_id = kp.kdoc AND w.pos = kp.kpos)),
        cov AS (
          SELECT doc_id, COUNT(*) AS n_dup_windows,
            CAST(SUM(CASE WHEN np IS NULL THEN 50
                          ELSE least(50, np - pos) END) AS BIGINT) AS n_dup_tokens
          FROM dup GROUP BY doc_id),
        stats AS (SELECT doc_id, COUNT(*) AS n_windows FROM wh GROUP BY doc_id)
        SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
          COALESCE(s.n_windows, 0) AS n_windows,
          COALESCE(c.n_dup_windows, 0) AS n_dup_windows,
          COALESCE(c.n_dup_tokens, 0) AS n_dup_tokens
        FROM th t
        LEFT JOIN stats s USING (doc_id)
        LEFT JOIN cov c USING (doc_id)
        ORDER BY t.doc_id""")),

    // F14b: the CUT step of exact-substring dedup — f14's measurement
    // applied as a transform: tokens covered by non-keeper duplicate
    // windows are removed, the keeper occurrence survives, and the
    // deduplicated text ships. The oracle replays the cut with a
    // covered-position list (flatten of per-dup ranges) instead of
    // the Spark side's nested exists — different spelling, same set.
    // DuckDB lambda indexes are 1-based where Spark's are 0-based,
    // hence the i-1 in the oracle's membership probe.
    QueryDef("f14b_substring_cut",
      (s, dir) => Dedup.substringDedupCut(Tables.documents(s, dir),
          "doc_id", "text", 50)
        .orderBy("doc_id"),
      Some("""WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        th AS (
          SELECT doc_id, ws, len(ws) AS n,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007) AS t1,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 998244353) AS t2
          FROM words),
        win AS (
          SELECT doc_id, unnest(range(0, n - 50 + 1)) AS p, t1, t2
          FROM th WHERE n >= 50),
        wh AS (
          SELECT doc_id, CAST(p AS INT) AS pos,
            list_reduce(t1[CAST(p + 1 AS INT) : CAST(p + 50 AS INT)],
              (a, b) -> (a * 131 + b) % 1000000007) * 998244353
            + list_reduce(t2[CAST(p + 1 AS INT) : CAST(p + 50 AS INT)],
              (a, b) -> (a * 131 + b) % 998244353) AS h
          FROM win),
        kd AS (SELECT h, MIN(doc_id) AS kdoc FROM wh GROUP BY h),
        kp AS (
          SELECT w.h, w.doc_id AS kdoc, MIN(w.pos) AS kpos
          FROM wh w JOIN kd ON w.h = kd.h AND w.doc_id = kd.kdoc
          GROUP BY w.h, w.doc_id),
        dups AS (
          SELECT w.doc_id,
            list_distinct(flatten(list_transform(list(w.pos),
              p -> range(CAST(p AS BIGINT), CAST(p + 50 AS BIGINT))))) AS cov
          FROM wh w JOIN kp USING (h)
          WHERE NOT (w.doc_id = kp.kdoc AND w.pos = kp.kpos)
          GROUP BY w.doc_id),
        cut AS (
          SELECT t.doc_id, t.ws, t.n, COALESCE(d.cov, []) AS cov
          FROM th t LEFT JOIN dups d USING (doc_id))
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          CAST(len(list_filter(ws, (w, i) -> NOT list_contains(cov, CAST(i - 1 AS BIGINT)))) AS BIGINT) AS n_tokens_after,
          COALESCE(array_to_string(list_filter(ws,
            (w, i) -> NOT list_contains(cov, CAST(i - 1 AS BIGINT))), ' '), '') AS text_dedup
        FROM cut ORDER BY doc_id""")),

    // F14c: window-length sizing report — the instrument that picks
    // F14's span threshold k, the way F10 sizes bands and F13 sizes
    // the df cap: corpus-total window count, duplicate-window count
    // and duplicate-token coverage at k = 25 / 50 / 100. Halving k
    // roughly doubles the cut volume on a boilerplate-heavy corpus;
    // this 3-row table is what a pipeline owner reads before
    // committing to the paper's k=50 default. ONE pass of the F14
    // machinery: the TokenWindowHashGrid kernel computes the k=25
    // streams once and Horner-composes 50 and 100 per prime
    // (bit-identical to the direct hashes, spec-pinned), so the
    // level fan-out happens in hash space and a single FileScan
    // feeds all three k — where the per-k spelling paid three
    // corpus scans + tokenizations (the e14f/e25d treatment).
    QueryDef("f14c_window_length_report",
      (s, dir) => Dedup.substringWindowLengthReport(
        Tables.documents(s, dir), "doc_id", "text", Seq(25, 50, 100))
        .orderBy("k"),
      Some {
        def block(k: Int) = s"""SELECT * FROM (
          WITH words AS (
            SELECT doc_id,
              list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
            FROM documents),
          th AS (
            SELECT doc_id, len(ws) AS n,
              list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007) AS t1,
              list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 998244353) AS t2
            FROM words),
          win AS (
            SELECT doc_id, unnest(range(0, n - $k + 1)) AS p, t1, t2
            FROM th WHERE n >= $k),
          wh AS (
            SELECT doc_id, CAST(p AS INT) AS pos,
              list_reduce(t1[CAST(p + 1 AS INT) : CAST(p + $k AS INT)],
                (a, b) -> (a * 131 + b) % 1000000007) * 998244353
              + list_reduce(t2[CAST(p + 1 AS INT) : CAST(p + $k AS INT)],
                (a, b) -> (a * 131 + b) % 998244353) AS h
            FROM win),
          kd AS (SELECT h, MIN(doc_id) AS kdoc FROM wh GROUP BY h),
          kp AS (
            SELECT w.h, w.doc_id AS kdoc, MIN(w.pos) AS kpos
            FROM wh w JOIN kd ON w.h = kd.h AND w.doc_id = kd.kdoc
            GROUP BY w.h, w.doc_id),
          dup AS (
            SELECT w.doc_id, w.pos,
              lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS np
            FROM wh w JOIN kp USING (h)
            WHERE NOT (w.doc_id = kp.kdoc AND w.pos = kp.kpos))
          SELECT $k AS k,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM wh) AS n_windows,
            CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
            CAST(COALESCE(SUM(CASE WHEN np IS NULL THEN $k
                                   ELSE least($k, np - pos) END), 0) AS BIGINT) AS n_dup_tokens
          FROM dup)"""
        Seq(25, 50, 100).map(block).mkString("", " UNION ALL ", " ORDER BY k")
      }),

    // F6: winnowing rolling-hash fingerprints (char 8-grams, window 4).
    // The norm column is materialized BEFORE the gram kernel (an
    // inlined normalizeWs re-runs per char position, O(n²)/doc), and
    // the docs are spread first — the corpus arrives as one small
    // parquet split, which would pin all the row-local hash work to a
    // single core (at real scale there are many splits and the
    // repartition is unnecessary; here it costs one tiny shuffle).
    // The gram hash is a TRUE Rabin–Karp rolling hash
    // (RollingGramHashes64): O(n) arithmetic per doc, where the
    // md5-per-position spelling paid a full digest per char position
    // (the 1.9 s → 0.4 s f6 win; any uniform hash serves winnowing,
    // and the Horner fold is exactly reproducible in SQL).
    QueryDef("f6_winnowing",
      (s, dir) => QueryDefs.sortedSmall(
        Tables.documents(s, dir)
          .repartition(col("doc_id"))
          .withColumn("__norm", TextOps.normalizeWs(col("text")))
          .withColumn("grams", HashFunctions.rollingGramHashes64(col("__norm"), 8))
          .withColumn("fps", TextOps.winnowFromGrams(col("grams"), 4))
          .select(col("doc_id"), size(col("fps")).as("n_fps"),
            array_min(col("fps")).as("fp_min"), array_max(col("fps")).as("fp_max")),
        col("doc_id")),
      Some("""WITH n AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents),
        cp AS (
          SELECT doc_id, norm,
            list_transform(range(1, length(norm) + 1),
              i -> CAST(ord(substr(norm, CAST(i AS INT), 1)) AS BIGINT)) AS cps
          FROM n),
        g AS (
          SELECT doc_id,
            CASE WHEN length(norm) = 0 THEN [CAST(0 AS BIGINT)]
                 WHEN length(norm) < 8 THEN
                   [list_reduce(cps, (a, b) -> (a * 131 + b) % 1000000007)]
                 ELSE list_transform(range(1, length(norm) - 7 + 1),
                   i -> list_reduce(cps[i:i+7], (a, b) -> (a * 131 + b) % 1000000007))
            END AS grams
          FROM cp),
        m AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, greatest(len(grams) - 3, 1) + 1),
              j -> list_aggregate(grams[j:j+3], 'min'))) AS fps
          FROM g)
        SELECT doc_id, CAST(len(fps) AS INT) AS n_fps,
          list_aggregate(fps, 'min') AS fp_min,
          list_aggregate(fps, 'max') AS fp_max
        FROM m ORDER BY doc_id""")),

    // F7: near-dup pairs → dedup GROUPS. Connected components over
    // the banded-LSH candidate graph; component id = min doc_id in
    // the group (the doc a pipeline would keep). Oracle recomputes
    // the same fixed point as recursive reachability.
    QueryDef("f7_dedup_components",
      (s, dir) => componentsFor(s, dir).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $componentCtes
        SELECT doc_id, component FROM comp ORDER BY doc_id""")),

    // F16: SOFT dedup — reweight duplicates instead of dropping them
    // (SoftDeDup, He et al. 2024: hard dedup keeps one copy of an
    // n-way near-dup cluster at weight 1, erasing the cluster's
    // natural prevalence; keeping all n copies at weight 1/n removes
    // the duplication BIAS while preserving the corpus distribution
    // and every copy's context). Per doc: its f7 component
    // (singletons are their own), the cluster size, the integer
    // sampling weight floor(1e6/size) in ppm, and the effective
    // token contribution after reweighting — the frame a sampler
    // joins at training time. Scale: cluster size is a count window
    // over ONE shuffle on component (no groupBy + second join-scan);
    // the component frame is the f7 memo (paired docs only), the
    // corpus takes the same left join p16 takes. Integer arithmetic
    // end-to-end — fully oracled.
    QueryDef("f16_softdedup_weights",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
        docs.join(componentsFor(s, dir), Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("weight_ppm", expr("1000000L div cluster_size"))
          .withColumn("eff_tokens",
            expr("(n_tokens * (1000000L div cluster_size)) div 1000000L"))
          .select("doc_id", "component", "cluster_size", "weight_ppm",
            "n_tokens", "eff_tokens")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $componentCtes,
        toks AS (SELECT doc_id, CAST(len(list_filter(
            regexp_split_to_array(lower(text), '\\s+'), w -> w != '')) AS BIGINT) AS n_tokens
          FROM documents),
        wc AS (SELECT t.doc_id, t.n_tokens, COALESCE(c.component, t.doc_id) AS component
          FROM toks t LEFT JOIN comp c USING (doc_id)),
        cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM wc GROUP BY component)
        SELECT doc_id, component, cluster_size,
          CAST(1000000 // cluster_size AS BIGINT) AS weight_ppm, n_tokens,
          CAST(n_tokens * (1000000 // cluster_size) // 1000000 AS BIGINT) AS eff_tokens
        FROM wc JOIN cs USING (component) ORDER BY doc_id""")),

    // P16: leakage-safe train/eval split — the published practice
    // (e.g. the Pile / C4 dedup-then-split discussions; Lee et al.
    // 2022 measure the cross-split leakage this prevents): assign
    // whole NEAR-DUP COMPONENTS to a split, so a document's
    // near-duplicate can never land in eval while it trains.
    // Singletons (docs in no pair) are their own component. The
    // split is the P5 hash-threshold on the COMPONENT id —
    // deterministic, rerun-stable, and constant per component by
    // construction, which is the no-straddle guarantee. Scale: the
    // component frame is the f7 memo (tiny — only paired docs); the
    // corpus takes one broadcast-ish left join and never shuffles on
    // anything but presentation.
    QueryDef("p16_leakage_safe_split",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        docs.join(componentsFor(s, dir), Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .withColumn("split",
            when(pmod(HashFunctions.md5prefix64(
              concat(lit("split:"), col("component").cast("string"))), lit(10L)) < 8,
              lit("train")).otherwise(lit("eval")))
          .select("doc_id", "component", "split")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $componentCtes,
        fulljoin AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        SELECT doc_id, component,
          CASE WHEN ('0x' || substr(md5('split:' || CAST(component AS VARCHAR)), 1, 15))::BIGINT
              % 10 < 8 THEN 'train' ELSE 'eval' END AS split
        FROM fulljoin ORDER BY doc_id""")),

    // P1: the end-to-end curation pipeline a training-data run would
    // execute — quality floor, language gate, exact dedup (keep min
    // doc per content hash), near-dup dedup (keep each component's
    // canonical doc). Every doc gets a verdict with the FIRST failing
    // stage (stages evaluated on the raw corpus in fixed order — the
    // deterministic spelling; a production run that filters
    // stage-by-stage keeps a superset decided by the same rules).
    QueryDef("p1_curation_pipeline",
      (s, dir) => {
        val docs = Tables.documents(s, dir).repartition(col("doc_id"))
        val ws = TextOps.tokens(col("text"))
        val n = length(col("text"))
        val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        val punct = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", ""))
        val stops = TextOps.stopwordHits(ws, TextOps.StopwordsEn)
        val quality = lit(0.5) * (stops.cast("double") / size(ws)) +
          lit(0.3) * (alpha.cast("double") / n) +
          lit(0.2) * (lit(1.0) - punct.cast("double") / n)
        val Seq(en, es, de, fr) = TextOps.langScores(col("text")).map(_._2)
        val comp = componentsFor(s, dir)
        val exactKeep = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text")))
        docs
          .withColumn("quality", quality)
          .withColumn("lang", TextOps.langPredict(en, es, de, fr))
          .withColumn("exact_keep", min(col("doc_id")).over(exactKeep))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("reason",
            when(col("quality") < 0.47, "quality")
              .when(col("lang") =!= "en", "lang")
              .when(col("doc_id") =!= col("exact_keep"), "exact_dup")
              .when(col("component").isNotNull &&
                col("doc_id") =!= col("component"), "near_dup")
              .otherwise("kept"))
          .select(col("doc_id"), (col("reason") === "kept").as("kept"), col("reason"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $componentCtes,
        feat AS (
          SELECT doc_id, text,
            0.5 * (CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != ''),
                     w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE)
                   / len(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != ''))) +
            0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)) +
            0.2 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
              AS quality,
            CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS INT) AS en,
            CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''), x -> list_contains(['el','la','de','que','los','se'], x))) AS INT) AS es,
            CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''), x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS de,
            CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''), x -> list_contains(['le','la','et','les','des'], x))) AS INT) AS fr,
            min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keep
          FROM documents),
        verdict AS (
          SELECT f.doc_id,
            CASE WHEN f.quality < 0.47 THEN 'quality'
                 WHEN (CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                            WHEN es >= de AND es >= fr THEN 'es'
                            WHEN de >= fr THEN 'de' ELSE 'fr' END) != 'en' THEN 'lang'
                 WHEN f.doc_id != f.exact_keep THEN 'exact_dup'
                 WHEN c.component IS NOT NULL AND f.doc_id != c.component THEN 'near_dup'
                 ELSE 'kept' END AS reason
          FROM feat f LEFT JOIN comp c ON c.doc_id = f.doc_id)
        SELECT doc_id, reason = 'kept' AS kept, reason
        FROM verdict ORDER BY doc_id""")),

    // P2: deterministic stratified sampling — per-stratum keep rates
    // (balance event types / languages / sources in a training mix),
    // reproducible across engines and runs because membership is a
    // pure hash threshold, not rand(). Shuffle-free row filter.
    QueryDef("p2_stratified_sample",
      (s, dir) => {
        val rate = when(col("event_type") === "click", 50)
          .when(col("event_type") === "view", 20)
          .when(col("event_type") === "error", 0)
          .otherwise(100)
        Tables.events(s, dir)
          .filter(HashFunctions.md5prefix64(col("event_id").cast("string")) % 100 < rate)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        FROM events
        WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
          CASE event_type WHEN 'click' THEN 50 WHEN 'view' THEN 20
                          WHEN 'error' THEN 0 ELSE 100 END
        GROUP BY event_type ORDER BY event_type""")),

    // P3: benchmark contamination check — for each eval document, the
    // fraction of its distinct word-8-gram shingles that appear
    // anywhere in the train split (the decontamination gate every
    // training-data pipeline runs before a model sees the corpus).
    // Train-side shingles deduplicate to one row per 60-bit hash, so
    // the join compares longs and is Σ-bucket-bounded like the dedup
    // family.
    QueryDef("p3_contamination",
      (s, dir) => p3Frame(s, dir).orderBy("doc_id"),
      Some(s"$p3SqlBase ORDER BY doc_id")),

    // P3c: TRAIN-side 13-gram decontamination — the GPT-3/Pile
    // direction (Brown et al. 2020 App. C): p3 measures how
    // contaminated each EVAL doc is; production decontamination goes
    // the other way and DROPS every training document containing any
    // eval 13-gram at any offset. Windows come from the F14 kernel
    // (O(n)/doc rolling hashes, stride 1 — not O(n·13) digests); the
    // eval side's distinct window set is tiny and broadcast into the
    // train-side join, so the corpus-sized shuffle carries only
    // (doc_id, 8-byte hash). Output: per-train-doc window counts,
    // contaminated-window count, and the keep/drop verdict.
    QueryDef("p3c_train_decontaminate",
      (s, dir) => p3cFrame(s, dir).orderBy("doc_id"),
      Some(s"$p3cSqlBase ORDER BY d.doc_id")),

    // P27: contamination SCOREBOARD — the p22 treatment for the three
    // decontamination gates (which method fires, how much it would
    // remove, in its own units): one row per method — p3's eval-side
    // 8-gram check (flagged eval docs + contaminated shingles), p3c's
    // GPT-3-style train-side 13-gram drop (dropped train docs +
    // contaminated windows), p8's embedding-space gate (eval vectors
    // with a ≥0.5-cosine train neighbor + such neighbors). The corpus
    // owner reads this before choosing which gate to run at full
    // scale. Both engines replay the SAME per-method spellings — the
    // Spark side calls the exact frames the per-method queries serve,
    // the oracle aggregates over the exact per-method SQL (shared
    // vals) — so no drift between the scoreboard and its methods is
    // possible.
    QueryDef("p27_contamination_scoreboard",
      (s, dir) => {
        val g8e = p3Frame(s, dir)
          .agg(count(when(col("n_contaminated") > 0L, 1)).as("n_flagged"),
            count(lit(1)).as("n_total"),
            sum(col("n_contaminated")).as("n_units"))
          .select(lit(1L).as("ord"), lit("gram8_eval").as("method"),
            lit("eval_doc").as("grain"), col("n_flagged"), col("n_total"),
            col("n_units"))
        val g13t = p3cFrame(s, dir)
          .agg(count(when(!col("keep"), 1)).as("n_flagged"),
            count(lit(1)).as("n_total"),
            sum(col("n_contaminated")).as("n_units"))
          .select(lit(2L).as("ord"), lit("gram13_train").as("method"),
            lit("train_doc").as("grain"), col("n_flagged"), col("n_total"),
            col("n_units"))
        val sem = EmbeddingQueries.p8Frame(s, dir)
          .agg(count(when(col("n_above") > 0L, 1)).as("n_flagged"),
            count(lit(1)).as("n_total"),
            sum(col("n_above")).as("n_units"))
          .select(lit(3L).as("ord"), lit("semantic_eval").as("method"),
            lit("eval_vec").as("grain"), col("n_flagged"), col("n_total"),
            col("n_units"))
        QueryDefs.sortedSmall(
          g8e.unionByName(g13t).unionByName(sem), col("ord"))
      },
      Some(s"""
        SELECT CAST(1 AS BIGINT) AS ord, 'gram8_eval' AS method,
          'eval_doc' AS grain,
          CAST(COUNT(CASE WHEN n_contaminated > 0 THEN 1 END) AS BIGINT) AS n_flagged,
          CAST(COUNT(*) AS BIGINT) AS n_total,
          CAST(SUM(n_contaminated) AS BIGINT) AS n_units
        FROM ($p3SqlBase)
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'gram13_train', 'train_doc',
          CAST(COUNT(CASE WHEN NOT keep THEN 1 END) AS BIGINT),
          CAST(COUNT(*) AS BIGINT),
          CAST(SUM(n_contaminated) AS BIGINT)
        FROM ($p3cSqlBase)
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'semantic_eval', 'eval_vec',
          CAST(COUNT(CASE WHEN n_above > 0 THEN 1 END) AS BIGINT),
          CAST(COUNT(*) AS BIGINT),
          CAST(SUM(n_above) AS BIGINT)
        FROM (${EmbeddingQueries.p8SqlBase})
        ORDER BY ord""")),

    // P4: sequence packing — shard the corpus into contiguous
    // token-budget bins (the chunking step that turns a curated
    // corpus into training shards). The running token total uses the
    // two-level scan (ScaleOps.prefixSum), NOT a global-window
    // cumsum, so no data funnels through one partition; the oracle
    // states the same math as a plain windowed sum.
    QueryDef("p4_sequence_packing",
      (s, dir) => {
        val withTokens = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextOps.bpeTokenCount(col("text")).cast("long").as("n_tokens"))
        graft.operators.ScaleOps.prefixSum(withTokens, "doc_id", "n_tokens", 64L)
          .select(col("doc_id"), col("n_tokens"), col("cum"),
            floor((col("cum") - col("n_tokens")).cast("double") / 4096.0)
              .cast("long").as("shard"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t)
        SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum,
          CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard
        FROM c ORDER BY doc_id""")),

    // P25: training-shard WRITER with manifest — the pipeline's
    // OUTPUT artifact, closed b2-style: materialize P4's packing as
    // deterministic shard=-partitioned files, then RECOMPUTE the
    // manifest (doc-id range, token count, XOR content checksum,
    // source mix) from the read-back files alone — tokens and hashes
    // re-derived from file CONTENTS, only the layout trusted. The
    // oracle computes the same manifest from the PLAN in SQL, so a
    // hash match proves write→read-back fidelity end-to-end; a
    // re-write of the same corpus is byte-identical (spec-pinned in
    // ShardWriterSpec). Scale: P4's prefix-sum plan + one shuffle of
    // each doc to its shard + shard-grain aggregations.
    QueryDef("p25_shard_manifest",
      (s, dir) => {
        val out = shardScratchDir(s, "p25", dir)
        // r16: spread — planShards evaluates the token-count regex +
        // md5 signals twice (offsets + main branch) off the one-file
        // scan, single-task without it (ScaleOps.spread)
        val planned = graft.operators.ShardWriter
          .planShards(graft.operators.ScaleOps.spread(Tables.documents(s, dir)))
        graft.operators.ShardWriter.writeShards(planned, out)
        graft.operators.ShardWriter.manifestFromFiles(s, out)
          .orderBy("shard")
      },
      Some("""WITH t AS (
          SELECT doc_id, source,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT AS doc_hash
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tokens, doc_hash,
            SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t),
        sh AS (
          SELECT doc_id, source, n_tokens, doc_hash,
            CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard
          FROM c),
        mixs AS (
          SELECT shard, string_agg(source || ':' || n, ',' ORDER BY source || ':' || n) AS source_mix
          FROM (SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n
                FROM sh GROUP BY shard, source)
          GROUP BY shard),
        m AS (
          SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
            MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
            CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
            bit_xor(doc_hash) AS content_hash
          FROM sh GROUP BY shard)
        SELECT m.shard, n_docs, min_doc_id, max_doc_id, n_tokens,
          content_hash, source_mix
        FROM m JOIN mixs USING (shard) ORDER BY shard""")),

    // P6: canonical selection by QUALITY — per near-dup component,
    // keep the highest-quality member (ties → min doc_id) instead of
    // P1's min-id convention: the curation choice real pipelines make
    // (drop the worse copies, not the later ones). Reuses the
    // memoized component labels; the per-component argmax is two
    // map-side-combined aggregations (max quality, then min id among
    // maximal members) — a deterministic spelling both engines
    // reproduce, where a float-blind arg_max could tie-break
    // differently.
    QueryDef("p6_keep_best",
      (s, dir) => {
        val docs = Tables.documents(s, dir).repartition(col("doc_id"))
        val ws = TextOps.tokens(col("text"))
        val n = length(col("text"))
        val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        val punct = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", ""))
        val stops = TextOps.stopwordHits(ws, TextOps.StopwordsEn)
        val quality = lit(0.5) * (stops.cast("double") / size(ws)) +
          lit(0.3) * (alpha.cast("double") / n) +
          lit(0.2) * (lit(1.0) - punct.cast("double") / n)
        val j = docs.withColumn("quality", quality)
          .join(componentsFor(s, dir), Seq("doc_id"))
        val best = j.groupBy(col("component"))
          .agg(max(col("quality")).as("best_quality"),
            count(lit(1)).as("n_members"))
        j.join(best, "component")
          .filter(col("quality") === col("best_quality"))
          .groupBy(col("component"), col("best_quality"), col("n_members"))
          .agg(min(col("doc_id")).as("keep_id"))
          .select(col("component"), col("keep_id"),
            col("best_quality"), col("n_members"))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE $componentCtes,
        q AS (
          SELECT doc_id,
            0.5 * (CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != ''),
                     w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE)
                   / len(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != ''))) +
            0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)) +
            0.2 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
              AS quality
          FROM documents),
        j AS (SELECT comp.doc_id, component, quality FROM comp JOIN q USING (doc_id)),
        best AS (SELECT component, max(quality) AS best_quality, COUNT(*) AS n_members
                 FROM j GROUP BY component)
        SELECT component, min(doc_id) AS keep_id, best_quality, n_members
        FROM j JOIN best USING (component)
        WHERE quality = best_quality
        GROUP BY component, best_quality, n_members
        ORDER BY component""")),

    // P5: mixture sampling — reweight the corpus to per-language
    // target rates (the data-mixing step of a training pipeline:
    // upsample/downsample languages or sources to a recipe). The
    // keep/drop decision is a pure hash of the doc id against an
    // integer parts-per-million threshold: deterministic, re-runnable,
    // embarrassingly parallel (no shuffle until the final ordering),
    // and at 100 TB each executor decides its own rows with no
    // coordination — unlike rand()-based sampling, reruns and
    // backfills keep exactly the same documents.
    QueryDef("p5_source_mixing",
      (s, dir) => {
        val rates = Seq("en" -> 1000000, "de" -> 600000, "fr" -> 500000,
          "es" -> 400000, "zh" -> 250000)
        val ppm = rates.tail.foldLeft(
          when(col("lang") === rates.head._1, lit(rates.head._2))) {
          case (acc, (l, r)) => acc.when(col("lang") === l, lit(r))
        }.otherwise(lit(0))
        Tables.documents(s, dir)
          .withColumn("__u", pmod(
            HashFunctions.md5prefix64(concat(lit("mix:"), col("doc_id").cast("string"))),
            lit(1000000L)))
          .filter(col("__u") < ppm)
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
        WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
          < CASE lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 600000
                      WHEN 'fr' THEN 500000 WHEN 'es' THEN 400000
                      WHEN 'zh' THEN 250000 ELSE 0 END
        ORDER BY doc_id""")),

    // P11: temperature (alpha) sampling — the mT5/XLM-R multilingual
    // rebalancing scheme: sampling probability ∝ (n_l)^α flattens the
    // language distribution (α=0.3 here), computed FROM the corpus
    // counts rather than P5's fixed rates. Exactness: each pow term
    // and each final keep threshold is quantized to integer
    // MILLIONTHS via the tie-stable floor spelling, so the 5-term
    // normalizer is an exact long sum (aggregation order free) and
    // the per-doc keep decision is an integer compare of a 60-bit
    // hash residue against an integer ppm — bit-portable despite two
    // transcendental pow calls. Scale shape: one lang-count
    // aggregation (map-side combined), thresholds broadcast back;
    // the corpus never shuffles.
    QueryDef("p11_temperature_sampling",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cz = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
          .withColumn("pw",
            floor(pow(col("n_l").cast("double"), lit(0.3)) * lit(1e6) + lit(0.5))
              .cast("long"))
        val z = cz.agg(sum(col("pw")).as("z_u"), sum(col("n_l")).as("n"))
        val th = cz.crossJoin(broadcast(z))
          .withColumn("keep_ppm", least(lit(1000000L),
            floor(((lit(0.5) * col("n")) * (col("pw").cast("double") / col("z_u"))
              / col("n_l")) * lit(1e6) + lit(0.5)).cast("long")))
          .select("lang", "keep_ppm")
        docs.join(broadcast(th), "lang")
          .withColumn("__u", pmod(
            HashFunctions.md5prefix64(concat(lit("temp:"), col("doc_id").cast("string"))),
            lit(1000000L)))
          .filter(col("__u") < col("keep_ppm"))
          .select(col("doc_id"), col("lang"), col("keep_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH cz AS (
          SELECT lang, COUNT(*) AS n_l,
            CAST(floor(pow(CAST(COUNT(*) AS DOUBLE), 0.3) * 1000000.0 + 0.5) AS BIGINT) AS pw
          FROM documents GROUP BY lang),
        z AS (SELECT SUM(pw) AS z_u, SUM(n_l) AS n FROM cz),
        th AS (SELECT lang,
            least(1000000, CAST(floor(((0.5 * n) * (CAST(pw AS DOUBLE) / z_u) / n_l)
              * 1000000.0 + 0.5) AS BIGINT)) AS keep_ppm
          FROM cz CROSS JOIN z)
        SELECT d.doc_id, d.lang, t.keep_ppm
        FROM documents d JOIN th t USING (lang)
        WHERE ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000 < t.keep_ppm
        ORDER BY d.doc_id""")),

    // P15: token-budget recipe — the "data card" computation every
    // training run publishes: given a fixed training budget B tokens
    // and α-tempered source weights (α=0.5 here, computed FROM the
    // per-source token counts like P11), how many EPOCHS of each
    // source does the run consume? epochs_s = B·w_s / tokens_s —
    // values > 1 mean upsampling (multi-epoch repeats), < 1 means
    // the source is subsampled; this is the multi-epoch complement
    // of P11's capped-ppm downsampling. Exactness: pow terms
    // quantized to integer micros (exact long normalizer), the final
    // epochs ratio q6-quantized — the P11 portability treatment.
    // Scale: one map-side-combined groupBy(source) over the corpus,
    // a one-row normalizer broadcast back; output is #sources rows.
    QueryDef("p15_token_budget",
      (s, dir) => {
        val perSrc = Tables.documents(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TextOps.tokens(col("text")))).as("n_tokens"))
          .withColumn("pw",
            floor(pow(col("n_tokens").cast("double"), lit(0.5)) * lit(1e6) + lit(0.5))
              .cast("long"))
        val z = perSrc.agg(sum("pw").as("z_u"))
        perSrc.crossJoin(broadcast(z))
          .withColumn("epochs", QueryDefs.q6(
            (lit(1.0e7) * (col("pw").cast("double") / col("z_u").cast("double")))
              / col("n_tokens").cast("double")))
          .select("source", "n_docs", "n_tokens", "epochs")
          .orderBy("source")
      },
      Some("""WITH perSrc AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        pw AS (SELECT source, n_docs, n_tokens,
            CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.5) * 1000000.0 + 0.5) AS BIGINT) AS pw
          FROM perSrc),
        z AS (SELECT SUM(pw) AS z_u FROM pw)
        SELECT source, n_docs, n_tokens,
          floor(((10000000.0 * (CAST(pw AS DOUBLE) / CAST(z_u AS DOUBLE)))
            / CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS epochs
        FROM pw CROSS JOIN z ORDER BY source""")),

    // P21: UniMax budget allocation (Chung et al. 2023) — the third
    // published mixing policy beside p11 (temperature) and p15
    // (α-epochs): given budget B tokens and an epoch cap C, allocate
    // UNIFORMLY across sources, capping each at C·n_s, and waterfill
    // the freed budget into the uncapped rest. Exact integer
    // waterfill: sources sort ascending by capacity; candidate level
    // t_i = (B − Σ caps below i) DIV (#sources from i on); the level
    // is t at the FIRST feasible position (t_i ≤ cap_i) — every
    // capped source takes its cap, every uncapped source takes the
    // level (floor slack < #sources tokens, integer-exact in both
    // engines). If B exceeds total capacity nothing is feasible and
    // every source takes its cap. Scale shape: one map-side-combined
    // groupBy(source) over the corpus; the waterfill runs over
    // #sources rows (one tiny window sort + a 1-row broadcast) — the
    // corpus shuffles nothing wider than the source key.
    QueryDef("p21_unimax_budget",
      (s, dir) => {
        val B = 1000000L // token budget
        val C = 3L       // epoch cap
        val perSrc = Tables.documents(s, dir)
          .groupBy("source")
          .agg(sum(size(TextOps.tokens(col("text")))).cast("long").as("n_tokens"))
          .withColumn("cap", col("n_tokens") * C)
        val w = org.apache.spark.sql.expressions.Window.orderBy("cap", "source")
        val ranked = perSrc
          .withColumn("rn", row_number().over(w))
          .withColumn("below",
            coalesce(sum(col("cap")).over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
        val total = ranked.agg(count(lit(1)).as("n_src"))
        val cand = ranked.crossJoin(broadcast(total))
          .withColumn("t", expr(s"($B - below) DIV (n_src - rn + 1)"))
        val level = cand.filter(col("t") <= col("cap"))
          .orderBy("rn").limit(1)
          .select(col("t").as("lvl"))
        cand.crossJoin(broadcast(level.unionByName(
            // no feasible position (budget >= total capacity): level
            // sentinel larger than any cap so min() picks the cap.
            // min() over {first-feasible t, sentinel} is order-
            // independent (sentinel = max cap + 1 > any feasible t),
            // unlike limit(1) on an unordered union.
            cand.agg((max(col("cap")) + 1L).as("lvl")))
          .agg(min(col("lvl")).as("lvl"))))
          .withColumn("alloc", least(col("cap"), col("lvl")))
          .withColumn("epochs_micro", expr("(alloc * 1000000) DIV n_tokens"))
          .select("source", "n_tokens", "cap", "alloc", "epochs_micro")
          .orderBy("source")
      },
      Some("""WITH perSrc AS (
          SELECT source,
            CAST(SUM(len(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        capped AS (SELECT source, n_tokens, n_tokens * 3 AS cap FROM perSrc),
        ranked AS (
          SELECT source, n_tokens, cap,
            row_number() OVER (ORDER BY cap, source) AS rn,
            COALESCE(SUM(cap) OVER (ORDER BY cap, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
          FROM capped),
        tot AS (SELECT COUNT(*) AS n_src FROM ranked),
        cand AS (
          SELECT r.*, (1000000 - below) // (n_src - rn + 1) AS t
          FROM ranked r CROSS JOIN tot),
        lvl AS (
          SELECT COALESCE(
            (SELECT t FROM cand WHERE t <= cap ORDER BY rn LIMIT 1),
            (SELECT MAX(cap) + 1 FROM cand)) AS lvl)
        SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap,
          CAST(least(cap, lvl) AS BIGINT) AS alloc,
          CAST((least(cap, lvl) * 1000000) // n_tokens AS BIGINT) AS epochs_micro
        FROM cand CROSS JOIN lvl ORDER BY source""")),

    // P22: cross-family dedup SCOREBOARD — the first question a
    // pipeline owner asks of a new corpus: which dedup pass fires,
    // and how much would it remove? One row per family, same params
    // as the families' own queries (f1 exact, f3 MinHash n=4, f4b
    // banded SimHash ≤3, f14 substring k=50), with family-appropriate
    // units (docs / candidate pairs / tokens). Complements f12's
    // pairwise agreement report with the volume view. Each family
    // reduces to ONE scalar row; the oracle replays all four from the
    // shared CTE constants the per-family oracles use, so scoreboard
    // and family queries can never drift apart.
    QueryDef("p22_dedup_scoreboard",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def pairRow(ord: Int, family: String,
                    pairs0: org.apache.spark.sql.DataFrame) = {
          val pairs = graft.operators.TrackedCache.persist(
            pairs0.select("a", "b"))
          pairs.select(explode(array(col("a"), col("b"))).as("d"))
            .agg(countDistinct(col("d")).as("n_affected_docs"))
            .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_removed_units"))))
            .select(lit(ord).as("ord"), lit(family).as("family"),
              lit("pairs").as("unit"), col("n_affected_docs"),
              col("n_removed_units"))
        }
        val exact = Dedup.exactGroups(docs, "doc_id", "text")
          .agg(sum(when(col("n_dups") > 1L, col("n_dups")).otherwise(0L)).as("a"),
            sum(col("n_dups") - 1L).as("u"))
          .select(lit(1).as("ord"), lit("exact_text").as("family"),
            lit("docs").as("unit"), col("a").as("n_affected_docs"),
            col("u").as("n_removed_units"))
        val minhash = pairRow(2, "minhash_lsh",
          Dedup.minhashLshPairs(docs, "doc_id", "text", 4))
        val simhash = pairRow(3, "simhash_banded",
          Dedup.simhashPairs(docs, "doc_id", "text"))
        val substring = Dedup.substringDedupStats(docs, "doc_id", "text", 50)
          .agg(count(when(col("n_dup_windows") > 0L, 1)).as("a"),
            sum(col("n_dup_tokens")).as("u"))
          .select(lit(4).as("ord"), lit("substring_50").as("family"),
            lit("tokens").as("unit"), col("a").as("n_affected_docs"),
            col("u").as("n_removed_units"))
        exact.unionByName(minhash).unionByName(simhash).unionByName(substring)
          .orderBy("ord")
      },
      Some {
        val sub = s"""SELECT * FROM (
          WITH words AS (
            SELECT doc_id,
              list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
            FROM documents),
          th AS (
            SELECT doc_id, len(ws) AS n,
              list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007) AS t1,
              list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 998244353) AS t2
            FROM words),
          win AS (SELECT doc_id, unnest(range(0, n - 50 + 1)) AS p, t1, t2
            FROM th WHERE n >= 50),
          wh AS (
            SELECT doc_id, CAST(p AS INT) AS pos,
              list_reduce(t1[CAST(p + 1 AS INT) : CAST(p + 50 AS INT)],
                (a, b) -> (a * 131 + b) % 1000000007) * 998244353
              + list_reduce(t2[CAST(p + 1 AS INT) : CAST(p + 50 AS INT)],
                (a, b) -> (a * 131 + b) % 998244353) AS h
            FROM win),
          kd AS (SELECT h, MIN(doc_id) AS kdoc FROM wh GROUP BY h),
          kp AS (SELECT w.h, w.doc_id AS kdoc, MIN(w.pos) AS kpos
            FROM wh w JOIN kd ON w.h = kd.h AND w.doc_id = kd.kdoc
            GROUP BY w.h, w.doc_id),
          dup AS (
            SELECT w.doc_id, w.pos,
              lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS np
            FROM wh w JOIN kp USING (h)
            WHERE NOT (w.doc_id = kp.kdoc AND w.pos = kp.kpos)),
          cov AS (
            SELECT doc_id,
              CAST(SUM(CASE WHEN np IS NULL THEN 50
                            ELSE least(50, np - pos) END) AS BIGINT) AS toks
            FROM dup GROUP BY doc_id)
          SELECT 4 AS ord, 'substring_50' AS family, 'tokens' AS unit,
            CAST(COUNT(*) AS BIGINT) AS n_affected_docs,
            CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS n_removed_units
          FROM cov)"""
        s"""SELECT * FROM (
          WITH g AS (SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY 1)
          SELECT 1 AS ord, 'exact_text' AS family, 'docs' AS unit,
            CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_affected_docs,
            CAST(SUM(n - 1) AS BIGINT) AS n_removed_units
          FROM g)
        UNION ALL SELECT * FROM (
          WITH $minhashBandCtes,
          mpairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
            GROUP BY 1, 2)
          SELECT 2 AS ord, 'minhash_lsh' AS family, 'pairs' AS unit,
            CAST((SELECT COUNT(DISTINCT d) FROM
              (SELECT a AS d FROM mpairs UNION ALL SELECT b AS d FROM mpairs)) AS BIGINT),
            CAST(COUNT(*) AS BIGINT)
          FROM mpairs)
        UNION ALL SELECT * FROM (
          WITH $simhash64Ctes,
          b0 AS (SELECT doc_id, simhash,
              unnest(list_transform(range(0, 4),
                b -> {'band': b, 'bv': (simhash >> CAST(b * 16 AS INT)) & 65535})) AS u
            FROM sim64),
          banded AS (SELECT doc_id, simhash, CAST(u.band AS INT) AS band, u.bv AS bv FROM b0),
          spairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
            GROUP BY 1, 2, x.simhash, y.simhash
            HAVING bit_count(xor(x.simhash, y.simhash)) <= 3)
          SELECT 3 AS ord, 'simhash_banded' AS family, 'pairs' AS unit,
            CAST((SELECT COUNT(DISTINCT d) FROM
              (SELECT a AS d FROM spairs UNION ALL SELECT b AS d FROM spairs)) AS BIGINT),
            CAST(COUNT(*) AS BIGINT)
          FROM spairs)
        UNION ALL $sub
        ORDER BY ord"""
      }),

    // H7: mean unigram negative-log-likelihood — the public
    // corpus-frequency analog of the CCNet/C4 LM-perplexity quality
    // filter: documents of rare-on-average tokens score high
    // (unusual/noisy), common-token documents score low. One token
    // explode + one DF aggregation + one hash join on the token —
    // all map-side-combined shuffles on small keys. Per-token NLL is
    // rounded to 6 dp (transcendental portability), summed in exact
    // decimal (fold-order portability), one final IEEE division.
    QueryDef("h7_unigram_logprob",
      (s, dir) => {
        // K28 distinct-grain facts: Σ c replaces every COUNT(*), so
        // the per-occurrence oracle is unchanged while fact rows
        // scale with per-doc vocabulary, not document length
        val tok = graft.operators.TrackedCache.persist(sharedTokenCounts(s, dir))
        val totals = tok.agg(sum(col("c")).as("__n_total"))
        val freq = tok.groupBy(col("w")).agg(sum(col("c")).as("__cnt"))
        // Quantize to 6 dp via floor(x·1e6 + 0.5)/1e6, NOT round(x, 6):
        // both engines then run the same four IEEE ops (multiply, add,
        // floor, divide) — bit-identical for ANY x. round() diverges at
        // millionth-boundary ties (Spark HALF_UP on the shortest
        // decimal repr vs DuckDB's C-style x·1e6 path) — at sf1, 10 of
        // 50k docs landed on such a boundary.
        val nll = QueryDefs.q6(-log(col("__cnt").cast("double") / col("__n_total")))
        tok.join(freq, "w")
          .crossJoin(broadcast(totals))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            QueryDefs.q6(sum(nll.cast("decimal(18,6)") * col("c")).cast("double")
              / sum(col("c")))
              .as("avg_nll"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
        tot AS (SELECT COUNT(*) AS n_total FROM tok)
        SELECT doc_id, COUNT(*) AS n_tokens,
          floor(CAST(SUM(CAST(
              floor(-ln(CAST(cnt AS DOUBLE) / n_total) * 1000000.0 + 0.5) / 1000000.0
            AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_nll
        FROM tok JOIN freq USING (w) CROSS JOIN tot
        GROUP BY doc_id ORDER BY doc_id""")),

    // P7: vocabulary coverage / OOV rate — induce the top-30 corpus
    // vocabulary (count desc, word asc: deterministic), then score
    // each doc by its out-of-vocabulary token fraction (the tokenizer-
    // fit signal a pipeline checks before committing to a vocab).
    // Scale: the frequency aggregation moves one row per distinct
    // word (map-side combined); the vocab is driver-sized and
    // broadcast back — the corpus never shuffles.
    QueryDef("p7_vocab_coverage",
      (s, dir) => {
        // K28 distinct-grain facts (count-weighted; oracle unchanged)
        val tok = graft.operators.TrackedCache.persist(sharedTokenCounts(s, dir))
        val vocab = tok.groupBy("w").agg(sum(col("c")).as("c"))
          .orderBy(col("c").desc, col("w")).limit(30)
          .select(col("w"), lit(1).as("__v"))
        tok.join(broadcast(vocab), Seq("w"), "left")
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            coalesce(sum(when(col("__v").isNull, col("c"))), lit(0L)).as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        vocab AS (SELECT w FROM freq ORDER BY c DESC, w LIMIT 30)
        SELECT doc_id, COUNT(*) AS n_tokens,
          COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov,
          CAST(COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) AS oov_rate
        FROM tok LEFT JOIN vocab v USING (w)
        GROUP BY doc_id ORDER BY doc_id""")),

    // H8: BM25 ranked retrieval (Robertson/Spärck Jones; k1=1.2,
    // b=0.75) for a fixed query-term set — the keyword-search scoring
    // a corpus index serves. One token explode feeds doc lengths,
    // per-(doc, term) TF and per-term DF (all map-side-combined
    // aggregations; DF/avgdl are term-level/scalar frames, broadcast).
    // Portability: idf and each term score quantize to 6 dp (ln ulps)
    // via the tie-stable floor spelling (QueryDefs.q6),
    // the per-doc sum is exact decimal, constants are written as
    // identical double literals in both engines.
    QueryDef("h8_bm25",
      (s, dir) => {
        val terms = Seq("spark", "window", "hash")
        // K28 distinct-grain facts: dl = Σ c per doc; tf IS the fact
        // row's count (the kernel already computed the per-doc term
        // frequency — no aggregation needed); oracle unchanged
        val tok = graft.operators.TrackedCache.persist(sharedTokenCounts(s, dir))
        val dl = tok.groupBy("doc_id").agg(sum(col("c")).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tt"))
          .select(col("n_docs"), (col("tt").cast("double") / col("n_docs")).as("avgdl"))
        val tf = tok.filter(col("w").isin(terms: _*))
          .select(col("doc_id"), col("w"), col("c").as("tf"))
        val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val idf = QueryDefs.q6(log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
        val score = QueryDefs.q6(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        tf.join(broadcast(dfT), "w")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("__score", score)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"),
            sum(col("__score").cast("decimal(18,6)")).cast("double").as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
               WHERE w IN ('spark', 'window', 'hash') GROUP BY doc_id, w),
        dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        sc AS (
          SELECT tf.doc_id,
            floor(((floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1000000.0 + 0.5) / 1000000.0) * (tf * 2.2) /
              (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))) * 1000000.0 + 0.5) / 1000000.0 AS score
          FROM tf JOIN dfq USING (w) JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats)
        SELECT doc_id, COUNT(*) AS n_terms,
          CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // H9: PII redaction — the scrubbing stage a curation pipeline runs
    // before training (emails / phone numbers / IPv4 addresses →
    // placeholder tokens, with per-doc redaction counts for audit).
    // The PII is synthesized deterministically from doc_id so the
    // redactor provably fires; patterns stay in the regex subset Java
    // and RE2 evaluate identically. Row-local regex work — a pure map
    // stage at any scale.
    QueryDef("h9_pii_redact",
      (s, dir) => {
        val eml = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
        val tel = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        Tables.documents(s, dir)
          // r16: sort-then-project — see h17's note
          .select("doc_id", "text").orderBy("doc_id")
          .withColumn("__full", concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".com"),
            lit(" tel 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"), lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            lit(" ip 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 3) % 256).cast("string")))
          // fused kernel (K16): 3 counts + 3 sequential replaces over
          // ONE materialized String — the regexp_count×3 +
          // regexp_replace-chain spelling paid 6 regex passes with a
          // conversion and result string each; same java.util.regex
          // engine, byte-identical results
          .withColumn("__rr", graft.functions.HashFunctions.regexRedactStats(
            col("__full"), Seq(eml, ip, tel), Seq("<EMAIL>", "<IP>", "<PHONE>")))
          .withColumn("n_emails", element_at(col("__rr.counts"), 1))
          .withColumn("n_ips", element_at(col("__rr.counts"), 2))
          .withColumn("n_phones", element_at(col("__rr.counts"), 3))
          .withColumn("red", col("__rr.red"))
          .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
            md5(col("red")).as("red_fp"),
            expr("substring(red, greatest(length(red) - 49, 1), 50)").as("tail_preview"))
      },
      Some("""WITH full0 AS (
          SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
            || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
            || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
            || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
            || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
            || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR) AS f
          FROM documents),
        red0 AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(f, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
            CAST(len(regexp_extract_all(f, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS INT) AS n_ips,
            CAST(len(regexp_extract_all(f, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
            regexp_replace(regexp_replace(regexp_replace(f,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
              '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
          FROM full0)
        SELECT doc_id, n_emails, n_phones, n_ips, md5(red) AS red_fp,
          substr(red, greatest(length(red) - 49, 1), 50) AS tail_preview
        FROM red0 ORDER BY doc_id""")),

    // H10: character-distribution entropy (K19 kernel) — the
    // low-diversity/keyboard-mash quality signal, computed in ONE
    // row-local pass inside the scan (a char-level explode at 100 TB
    // is ~10¹⁴ rows; the oracle pays that explode, the operator never
    // does). Per-char terms are quantized to exact integer micros
    // before summation, so the kernel's map-iteration order is
    // irrelevant and both engines sum the same longs.
    QueryDef("h10_char_entropy",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), HashFunctions.charEntropy(col("text")).as("ce"))
        .select(col("doc_id"), col("ce.n_chars").as("n_chars"),
          col("ce.n_distinct").as("n_distinct"), col("ce.entropy").as("entropy"))
        .orderBy("doc_id"),
      Some("""WITH ch AS (
          SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
            i -> substr(text, CAST(i AS INT), 1))) AS c
          FROM documents),
        cnt AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c),
        tot AS (SELECT doc_id, SUM(cnt) AS n FROM cnt GROUP BY doc_id),
        terms AS (
          SELECT cnt.doc_id, cnt.cnt,
            CAST(floor((-((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)))
              * 1000000.0 + 0.5) AS BIGINT) AS tu
          FROM cnt JOIN tot USING (doc_id)),
        agg AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
            CAST(COUNT(*) AS INT) AS n_distinct,
            CAST(SUM(tu) AS DOUBLE) / 1000000.0 AS entropy
          FROM terms GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(a.n_chars, 0) AS n_chars,
          COALESCE(a.n_distinct, 0) AS n_distinct,
          COALESCE(a.entropy, 0.0) AS entropy
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id""")),

    // H11: BPE pair statistics — the merge-selection step of BPE
    // tokenizer training: count adjacent character pairs across all
    // token occurrences, rank the top candidates (iteration 1 of the
    // Sennrich et al. loop; subsequent iterations re-run this over
    // re-segmented tokens). Row-local bigram expansion inside the
    // scan; the only shuffle carries one row per DISTINCT pair
    // (map-side combined) — at 100 TB the pair vocabulary is
    // thousands of rows, so tokenizer statistics cost one corpus
    // read. `sequence(1, len-1)` is guarded for 1-char tokens: under
    // ANSI, sequence(1, 0) DESCENDS instead of being empty.
    QueryDef("h11_bpe_pairs",
      (s, dir) => {
        val tok = tokFrame(s, dir)
        tok.filter(length(col("w")) >= 2)
          .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
      },
      Some("""WITH words AS (
          SELECT doc_id, list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
        pairs AS (
          SELECT unnest(list_transform(range(1, length(w)),
            i -> substr(w, CAST(i AS INT), 2))) AS pair
          FROM tok WHERE length(w) >= 2)
        SELECT pair, COUNT(*) AS n FROM pairs
        GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),

    // H12: BPE vocabulary TRAINING — h11's pair statistics run to a
    // merge budget (the Sennrich et al. loop): corpus → word-freq
    // vocab ONCE, then each round is a vocab-sized pair aggregation +
    // a row-local greedy merge application (see BpeTrainer's scaladoc
    // for the prefix-space encoding that makes `replace` exactly the
    // greedy LTR merge in both engines). The oracle replays all 8
    // rounds as staged MATERIALIZED CTEs — merge 6+ landing on a
    // previously-merged symbol (e.g. "m"+"er") proves the recursion,
    // not just the first-round argmax.
    QueryDef("h12_bpe_train",
      (s, dir) => graft.operators.BpeTrainer
        .bpeTrain(Tables.documents(s, dir), "text", 8)
        .orderBy("merge_rank"),
      Some {
        val K = 8
        def stage(k: Int): String = s"""p$k AS MATERIALIZED (
          SELECT u.a AS lhs, u.b AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq, unnest(list_transform(range(1, len(ss)),
              i -> {'a': ss[CAST(i AS INT)], 'b': ss[CAST(i + 1 AS INT)]})) AS u
            FROM (SELECT freq, list_filter(string_split(seq, ' '), s2 -> s2 != '') AS ss
                  FROM s${k - 1}) t$k
            WHERE len(ss) >= 2) z$k
          GROUP BY 1, 2),
        m$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        s$k AS MATERIALIZED (SELECT freq,
          replace(seq,
            ' ' || (SELECT lhs FROM m$k) || ' ' || (SELECT rhs FROM m$k),
            ' ' || (SELECT lhs FROM m$k) || (SELECT rhs FROM m$k)) AS seq
          FROM s${k - 1})"""
        val stages = (1 to K).map(stage).mkString(",\n")
        val union = (1 to K).map { k =>
          s"SELECT $k AS merge_rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM m$k"
        }.mkString("\nUNION ALL ")
        s"""WITH w0 AS (
          SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '')) AS w
          FROM documents),
        v AS (SELECT w, COUNT(*) AS freq FROM w0 GROUP BY w),
        s0 AS MATERIALIZED (SELECT freq,
          ' ' || array_to_string(list_transform(range(1, length(w) + 1),
            i -> substr(w, CAST(i AS INT), 1)), ' ') AS seq
          FROM v),
        $stages
        SELECT * FROM ($union) ORDER BY merge_rank"""
      }),

    // H12b: BPE tokenization with the TRAINED merges — the apply
    // side closing the train→apply loop: per-doc whitespace-token
    // and BPE-symbol counts under h12's 8 learned merges. The merge
    // table is the collected driver artifact (8 rows); application
    // is a row-local 8-deep replace chain per token occurrence —
    // zero joins, one doc_id aggregation shuffle, scan-bound at
    // 100 TB like a real tokenizer pass. The oracle re-trains via
    // the same staged CTEs (carrying the word column through) and
    // applies by joining each doc's tokens to the final vocab
    // segmentation — a different but arithmetically equal spelling
    // (every corpus token IS in the vocab it was trained on).
    QueryDef("h12b_bpe_tokenize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.operators.BpeTrainer.trainMerges(docs, "text", 8)
        tokFrame(s, dir)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_ws_tokens"),
            sum(graft.operators.BpeTrainer.bpeSymbolCount(col("w"), merges)
              .cast("long")).as("n_bpe_symbols"))
          .orderBy("doc_id")
      },
      Some {
        val K = 8
        def stage(k: Int): String = s"""p$k AS MATERIALIZED (
          SELECT u.a AS lhs, u.b AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq, unnest(list_transform(range(1, len(ss)),
              i -> {'a': ss[CAST(i AS INT)], 'b': ss[CAST(i + 1 AS INT)]})) AS u
            FROM (SELECT freq, list_filter(string_split(seq, ' '), s2 -> s2 != '') AS ss
                  FROM s${k - 1}) t$k
            WHERE len(ss) >= 2) z$k
          GROUP BY 1, 2),
        m$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        s$k AS MATERIALIZED (SELECT w, freq,
          replace(seq,
            ' ' || (SELECT lhs FROM m$k) || ' ' || (SELECT rhs FROM m$k),
            ' ' || (SELECT lhs FROM m$k) || (SELECT rhs FROM m$k)) AS seq
          FROM s${k - 1})"""
        val stages = (1 to K).map(stage).mkString(",\n")
        s"""WITH docw AS (
          SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), w2 -> w2 != '')) AS w
          FROM documents),
        v AS (SELECT w, COUNT(*) AS freq FROM docw GROUP BY w),
        s0 AS MATERIALIZED (SELECT w, freq,
          ' ' || array_to_string(list_transform(range(1, length(w) + 1),
            i -> substr(w, CAST(i AS INT), 1)), ' ') AS seq
          FROM v),
        $stages,
        wsym AS (SELECT w,
          CAST(len(list_filter(string_split(seq, ' '), s2 -> s2 != '')) AS BIGINT) AS nsym
          FROM s$K)
        SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
          CAST(SUM(nsym) AS BIGINT) AS n_bpe_symbols
        FROM docw d JOIN wsym USING (w)
        GROUP BY d.doc_id ORDER BY d.doc_id"""
      }),

    // H12c: BYTE-level BPE training (the GPT-2 tokenizer class — r15
    // verdict what's-missing #4): H12's merge loop over a 256-symbol
    // byte base alphabet, so ANY UTF-8 text segments by construction
    // (non-Latin, emoji, astral — BpeTrainerSpec exercises them
    // against a plain-Scala reference). Pre-tokenization is the
    // GPT-2-class regex (case PRESERVED, optional attached leading
    // space, RE2-compatible — see BpeTrainer's documented deviation),
    // run from the IDENTICAL pattern string in both engines; the
    // byte-symbol encoding is built from the same builtin chain
    // (lower(hex(encode(w))) split into 2-char groups) in both
    // engines, so the oracle replays the ENTIRE train — all 8 rounds
    // as staged MATERIALIZED CTEs, byte spellings and all. Scale
    // shape = h12's: one corpus scan into a pretoken-frequency vocab,
    // then vocab-sized rounds.
    QueryDef("h12c_bpe_train_bytes",
      (s, dir) => graft.operators.BpeTrainer
        .bpeTrainBytes(Tables.documents(s, dir), "text", 8)
        .orderBy("merge_rank"),
      Some {
        val K = 8
        val pat = graft.operators.BpeTrainer.BytePretokenPattern
        def stage(k: Int): String = s"""p$k AS MATERIALIZED (
          SELECT u.a AS lhs, u.b AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq, unnest(list_transform(range(1, len(ss)),
              i -> {'a': ss[CAST(i AS INT)], 'b': ss[CAST(i + 1 AS INT)]})) AS u
            FROM (SELECT freq, list_filter(string_split(seq, ' '), s2 -> s2 != '') AS ss
                  FROM s${k - 1}) t$k
            WHERE len(ss) >= 2) z$k
          GROUP BY 1, 2),
        m$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        s$k AS MATERIALIZED (SELECT freq,
          replace(seq,
            ' ' || (SELECT lhs FROM m$k) || ' ' || (SELECT rhs FROM m$k),
            ' ' || (SELECT lhs FROM m$k) || (SELECT rhs FROM m$k)) AS seq
          FROM s${k - 1})"""
        val stages = (1 to K).map(stage).mkString(",\n")
        val union = (1 to K).map { k =>
          s"SELECT $k AS merge_rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM m$k"
        }.mkString("\nUNION ALL ")
        s"""WITH w0 AS (
          SELECT unnest(regexp_extract_all(text, '$pat')) AS w FROM documents),
        v AS (SELECT w, COUNT(*) AS freq FROM w0 GROUP BY w),
        s0 AS MATERIALIZED (SELECT freq,
          ' ' || array_to_string(list_transform(
            range(1, length(lower(hex(encode(w)))) // 2 + 1),
            i -> substr(lower(hex(encode(w))), CAST(2 * i - 1 AS INT), 2)), ' ') AS seq
          FROM v),
        $stages
        SELECT * FROM ($union) ORDER BY merge_rank"""
      }),

    // H12d: byte-level BPE tokenization with the TRAINED merges —
    // h12b's apply treatment on the byte alphabet: per-doc pretoken
    // and byte-symbol counts under h12c's 8 learned merges, a
    // row-local 8-deep replace chain per pretoken (zero joins, one
    // doc_id aggregation shuffle — scan-bound at 100 TB). The oracle
    // re-trains via the same staged CTEs (carrying the pretoken
    // through) and applies by joining each doc's pretokens to the
    // final vocab segmentation.
    QueryDef("h12d_bpe_tokenize_bytes",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges =
          graft.operators.BpeTrainer.trainMergesBytes(docs, "text", 8)
        // r16: spread the one-file scan before the pretoken regex
        // explode (measured single-task: par 2.9, 2.6 task-s at
        // sf0.1), and evaluate the 8-deep replace chain once per
        // DISTINCT pretoken, broadcast-joined back (the oracle's own
        // wsym-join spelling) instead of once per occurrence — the
        // h12b treatment; per-doc long sums are unchanged.
        val tok = graft.operators.ScaleOps.spread(
            docs.select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            explode(graft.operators.BpeTrainer.pretokens(col("text"))).as("w"))
        val wsym = tok.select("w").distinct()
          .withColumn("__nsym",
            graft.operators.BpeTrainer.byteSymbolCount(col("w"), merges)
              .cast("long"))
        tok.join(broadcast(wsym), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pretokens"),
            sum(col("__nsym")).as("n_byte_symbols"))
          .orderBy("doc_id")
      },
      Some {
        val K = 8
        val pat = graft.operators.BpeTrainer.BytePretokenPattern
        def stage(k: Int): String = s"""p$k AS MATERIALIZED (
          SELECT u.a AS lhs, u.b AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq, unnest(list_transform(range(1, len(ss)),
              i -> {'a': ss[CAST(i AS INT)], 'b': ss[CAST(i + 1 AS INT)]})) AS u
            FROM (SELECT freq, list_filter(string_split(seq, ' '), s2 -> s2 != '') AS ss
                  FROM s${k - 1}) t$k
            WHERE len(ss) >= 2) z$k
          GROUP BY 1, 2),
        m$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        s$k AS MATERIALIZED (SELECT w, freq,
          replace(seq,
            ' ' || (SELECT lhs FROM m$k) || ' ' || (SELECT rhs FROM m$k),
            ' ' || (SELECT lhs FROM m$k) || (SELECT rhs FROM m$k)) AS seq
          FROM s${k - 1})"""
        val stages = (1 to K).map(stage).mkString(",\n")
        s"""WITH docw AS (
          SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS w
          FROM documents),
        v AS (SELECT w, COUNT(*) AS freq FROM docw GROUP BY w),
        s0 AS MATERIALIZED (SELECT w, freq,
          ' ' || array_to_string(list_transform(
            range(1, length(lower(hex(encode(w)))) // 2 + 1),
            i -> substr(lower(hex(encode(w))), CAST(2 * i - 1 AS INT), 2)), ' ') AS seq
          FROM v),
        $stages,
        wsym AS (SELECT w,
          CAST(len(list_filter(string_split(seq, ' '), s2 -> s2 != '')) AS BIGINT) AS nsym
          FROM s$K)
        SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pretokens,
          CAST(SUM(nsym) AS BIGINT) AS n_byte_symbols
        FROM docw d JOIN wsym USING (w)
        GROUP BY d.doc_id ORDER BY d.doc_id"""
      }),

    // H1: token counting (whitespace + BPE-ish regex).
    QueryDef("h1_token_count",
      (s, dir) => Tables.documents(s, dir)
        // r16: sort-then-project — see h17's note
        .select("doc_id", "text").orderBy("doc_id")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("int").as("n_bpe_tokens")),
      Some("""SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id""")),

    // H2: quality scoring from length/alpha/punct/stopword ratios.
    QueryDef("h2_quality_score",
      (s, dir) => {
        val ws = TextOps.tokens(col("text"))
        val n = length(col("text"))
        val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        val punct = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", ""))
        val stops = TextOps.stopwordHits(ws, TextOps.StopwordsEn)
        val nWords = size(ws)
        val alphaRatio = alpha.cast("double") / n
        val punctRatio = punct.cast("double") / n
        val stopRatio = stops.cast("double") / nWords
        Tables.documents(s, dir)
          // r16: sort-then-project — see h17's note
          .select("doc_id", "text").orderBy("doc_id")
          .select(col("doc_id"), n.as("n_chars_real"),
            alphaRatio.as("alpha_ratio"), punctRatio.as("punct_ratio"),
            stopRatio.as("stop_ratio"),
            (lit(0.5) * stopRatio + lit(0.3) * alphaRatio +
              lit(0.2) * (lit(1.0) - punctRatio)).as("quality"))
      },
      Some("""WITH f AS (
          SELECT doc_id,
            CAST(length(text) AS INT) AS n_chars_real,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
            CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
            CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != ''),
                   w -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'], w))) AS DOUBLE)
              / len(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS stop_ratio
          FROM documents)
        SELECT doc_id, n_chars_real, alpha_ratio, punct_ratio, stop_ratio,
          0.5 * stop_ratio + 0.3 * alpha_ratio + 0.2 * (1.0 - punct_ratio) AS quality
        FROM f ORDER BY doc_id""")),

    // H3: stopword-hit language ID.
    QueryDef("h3_lang_id",
      (s, dir) => {
        val scores = TextOps.langScores(col("text"))
        val Seq(en, es, de, fr) = scores.map(_._2)
        Tables.documents(s, dir)
          // r16: sort-then-project — see h17's note
          .select("doc_id", "text").orderBy("doc_id")
          .select(col("doc_id"),
            en.as("en"), es.as("es"), de.as("de"), fr.as("fr"),
            TextOps.langPredict(en, es, de, fr).as("pred_lang"))
      },
      Some("""WITH w AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS ws
          FROM documents),
        sc AS (
          SELECT doc_id,
            CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS INT) AS en,
            CAST(len(list_filter(ws, x -> list_contains(['el','la','de','que','los','se'], x))) AS INT) AS es,
            CAST(len(list_filter(ws, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS de,
            CAST(len(list_filter(ws, x -> list_contains(['le','la','et','les','des'], x))) AS INT) AS fr
          FROM w)
        SELECT doc_id, en, es, de, fr,
          CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
               WHEN es >= de AND es >= fr THEN 'es'
               WHEN de >= fr THEN 'de' ELSE 'fr' END AS pred_lang
        FROM sc ORDER BY doc_id""")),

    // H6: repetition ratio — the fraction of duplicate word 2-grams,
    // the classic boilerplate/spam signal quality filters add next to
    // H2's ratios (high repetition ⇒ keyword stuffing, templated
    // text). Row-local HOF work like the rest of the H group.
    QueryDef("h6_repetition",
      (s, dir) => Tables.documents(s, dir)
        // r16: sort-then-project — see h17's note
        .select("doc_id", "text").orderBy("doc_id")
        .withColumn("__ws", TextOps.tokens(col("text")))
        .withColumn("__gs", TextOps.shinglesFromTokens(col("__ws"), 2))
        .select(col("doc_id"),
          size(col("__gs")).as("n_2grams"),
          size(array_distinct(col("__gs"))).as("n_distinct"),
          (lit(1.0) - size(array_distinct(col("__gs"))).cast("double") / size(col("__gs")))
            .as("rep_ratio")),
      Some("""WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        g AS (
          SELECT doc_id, list_transform(range(1, greatest(len(ws) - 1, 1) + 1),
            i -> array_to_string(ws[i:i+1], ' ')) AS gs
          FROM words)
        SELECT doc_id, CAST(len(gs) AS INT) AS n_2grams,
          CAST(len(list_distinct(gs)) AS INT) AS n_distinct,
          1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) AS rep_ratio
        FROM g ORDER BY doc_id""")),

    // H4: document fingerprints (md5 + 60-bit via the native expression).
    QueryDef("h4_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          TextOps.fingerprint64(col("text")).as("fp64"))
        .orderBy("doc_id"),
      Some("""WITH n AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents)
        SELECT doc_id, md5(norm) AS fp,
          ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp64
        FROM n ORDER BY doc_id""")),

    // H5: aggressive text normalization.
    QueryDef("h5_text_normalize",
      (s, dir) => Tables.documents(s, dir)
        // r16: sort-then-project — see h17's note
        .select("doc_id", "text").orderBy("doc_id")
        .select(col("doc_id"),
          substring(TextOps.normalizeText(col("text")), 1, 40).as("preview"),
          length(TextOps.normalizeText(col("text"))).as("clean_len")),
      Some("""WITH c AS (
          SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS cleaned
          FROM documents)
        SELECT doc_id, substr(cleaned, 1, 40) AS preview,
          CAST(length(cleaned) AS INT) AS clean_len
        FROM c ORDER BY doc_id""")),

    // K4: the SQL surface — graft's native expression invoked from
    // spark.sql through the runtime function registry (the same
    // builder GraftExtensions injects at session build).
    QueryDef("k4_sql_surface",
      (s, dir) => {
        graft.plans.GraftFunctions.register(s)
        Tables.documents(s, dir).createOrReplaceTempView("graft_docs_k4")
        s.sql("""SELECT doc_id, md5prefix64(text) AS h64, md5prefix64(text) % 97 AS bucket
                 FROM graft_docs_k4 ORDER BY doc_id""")
      },
      Some("""SELECT doc_id,
          ('0x' || substr(md5(text), 1, 15))::BIGINT AS h64,
          ('0x' || substr(md5(text), 1, 15))::BIGINT % 97 AS bucket
        FROM documents ORDER BY doc_id""")),

    // K4b: a whole dedup kernel from SQL — the fused SimHash32
    // expression through the runtime registry, checked against the
    // same DuckDB mirror as f4 (the SQL surface and the Scala API
    // produce identical fingerprints).
    QueryDef("k4b_sql_simhash",
      (s, dir) => {
        graft.plans.GraftFunctions.register(s)
        Tables.documents(s, dir).createOrReplaceTempView("graft_docs_k4b")
        s.sql("""SELECT doc_id, simhash32(text) AS simhash
                 FROM graft_docs_k4b ORDER BY doc_id""")
      },
      Some(simhashSql)),

    // I1: multimodal binary column + typed metadata (decode itself is
    // stubbed deterministically — see graft.operators.Multimodal).
    QueryDef("i1_multimodal_meta",
      (s, dir) => {
        val b = HashFunctions.md5prefix64(col("text"))
        Tables.documents(s, dir)
          .withColumn("payload", encode(col("text"), "UTF-8"))
          .select(col("doc_id"),
            octet_length(col("payload")).as("n_bytes"),
            (b % 1024 + 1).as("width"),
            (b % 768 + 1).as("height"),
            when(b % 3 === 0, "jpeg").when(b % 3 === 1, "png")
              .otherwise("webp").as("format"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (
          SELECT doc_id, encode(text) AS payload,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS b
          FROM documents)
        SELECT doc_id, CAST(octet_length(payload) AS INT) AS n_bytes,
          b % 1024 + 1 AS width, b % 768 + 1 AS height,
          CASE b % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
        FROM m ORDER BY doc_id""")),

    // I2: batched per-partition feature extraction over OPAQUE
    // payloads (here: utf-8 text bytes, which ImageIO rightly rejects
    // → every row exercises the flagged deterministic-stub fallback;
    // decodable payloads take the REAL ImageIO path, proven by i5 and
    // MediaCodecSpec). The stub's byte-polynomial hash has no SQL
    // spelling → rows-only check; the mapPartitions plumbing, schema
    // and fallback provenance bit are what this entry exercises.
    QueryDef("i2_media_features",
      (s, dir) => {
        import s.implicits._
        // r17: spreading this scan was TRIED and measured 4x SLOWER
        // (1.08 -> 4.15 s): unlike i5-i8, whose exchanges carry bare
        // ids and synthesize payloads after, i2's payload IS the
        // document text — the spread exchange moves the corpus bytes
        // (plus sort-before-repartition) for a stub-decode that costs
        // less than the move. Reverted; single-task stands as the
        // honest shape for payload-attached decode over one split.
        val recs = graft.operators.Multimodal.toMediaRecords(
            Tables.documents(s, dir).withColumn("payload", encode(col("text"), "UTF-8")),
            "doc_id", "payload")
          .as[graft.operators.Multimodal.MediaRecord]
        // persist (the i5 lesson): orderBy's range-partition sampling
        // executes its child once for bounds and again for the sort —
        // without the fence the whole decode battery runs TWICE. The
        // persisted frame is the NARROW features output (no payload),
        // so at 100 TB the payload is read+decoded once and only
        // metadata-sized rows reach the range exchange.
        graft.operators.TrackedCache.persist(
            graft.operators.Multimodal.extractFeatures(s, recs).toDF())
          .select("doc_id", "media_type", "n_bytes", "width", "height",
            "channels", "sharpness", "decoded")
          .orderBy("doc_id")
      },
      None),

    // I3: resize planning over the I1 metadata (md5-derived dims) —
    // aspect-preserving target dimensions, fully oracle-checked.
    QueryDef("i3_resize_plan",
      (s, dir) => {
        val b = HashFunctions.md5prefix64(col("text"))
        val meta = Tables.documents(s, dir)
          .select(col("doc_id"),
            (b % 1024 + 1).as("width"), (b % 768 + 1).as("height"))
        graft.operators.Multimodal.planResizeDf(meta,
            graft.operators.Multimodal.ResizeParams(640, 480))
          .select("doc_id", "width", "height", "target_width", "target_height")
          .orderBy("doc_id")
      },
      Some("""WITH m AS (
          SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS b FROM documents),
        d AS (SELECT doc_id, b % 1024 + 1 AS width, b % 768 + 1 AS height FROM m),
        sc AS (SELECT doc_id, width, height,
          least(640 * 1000.0 / width, 480 * 1000.0 / height, 1000.0) AS s FROM d)
        SELECT doc_id, width, height,
          CAST(trunc(width * s / 1000.0) AS BIGINT) AS target_width,
          CAST(trunc(height * s / 1000.0) AS BIGINT) AS target_height
        FROM sc ORDER BY doc_id""")),

    // P10: curation pipeline v2 — the round-6 primitives COMPOSED
    // into one declarative plan: (1) corpus-scale exact dedup on
    // 8-byte fingerprints (F1b's spelling — keeper = min doc_id per
    // 60-bit md5 prefix), (2) bloom-screened decontamination against
    // the eval set's fingerprints (B12b — definite non-members never
    // shuffle; the exact anti join only sees the might-contain
    // sliver), (3) a row-local K19 entropy/length quality gate
    // inside the scan. Three shuffles total for the whole pipeline:
    // the dedup group, its keeper join, and the (sliver-sized)
    // confirm join — the quality gate is free.
    QueryDef("p10_curation_v2",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("fp", HashFunctions.md5prefix64(col("text")))
        val keep = docs.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val canon = docs.join(keep, Seq("fp", "doc_id"))
        val blacklist = docs.filter(col("doc_id") < 10)
          .select(col("fp").as("bfp")).distinct()
        val clean = graft.operators.ScaleOps.bloomAntiJoin(
          canon, "fp", blacklist, "bfp", 1 << 17, 5)
        clean
          .select(col("doc_id"), col("fp"),
            HashFunctions.charEntropy(col("text")).as("ce"))
          .select(col("doc_id"), col("fp"),
            col("ce.n_chars").as("n_chars"), col("ce.entropy").as("entropy"))
          .filter(col("entropy") >= 2.7 && col("n_chars") >= 100)
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id, text,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
          FROM documents),
        keep AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
        canon AS (SELECT d.* FROM d JOIN keep USING (fp, doc_id)),
        bl AS (SELECT DISTINCT fp FROM d WHERE doc_id < 10),
        clean AS (SELECT * FROM canon WHERE fp NOT IN (SELECT fp FROM bl)),
        ch AS (SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
            i -> substr(text, CAST(i AS INT), 1))) AS c
          FROM clean),
        cnt AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c),
        tot AS (SELECT doc_id, SUM(cnt) AS n FROM cnt GROUP BY doc_id),
        terms AS (
          SELECT cnt.doc_id, cnt.cnt,
            CAST(floor((-((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)))
              * 1000000.0 + 0.5) AS BIGINT) AS tu
          FROM cnt JOIN tot USING (doc_id)),
        agg AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
            CAST(SUM(tu) AS DOUBLE) / 1000000.0 AS entropy
          FROM terms GROUP BY doc_id)
        SELECT c.doc_id, c.fp, a.n_chars, a.entropy
        FROM clean c JOIN agg a USING (doc_id)
        WHERE a.entropy >= 2.7 AND a.n_chars >= 100
        ORDER BY c.doc_id""")),

    // P12: curation FUNNEL report — the per-stage survival table a
    // data team actually ships with a curated corpus: docs and tokens
    // remaining after each P10 stage (raw → exact dedup → bloom
    // decontamination → entropy/length quality gate). Same stage
    // spellings as p10 (one dedup shuffle, bloom-screened anti join,
    // row-local K19 gate); the report itself is four aggregate rows
    // unioned — the funnel costs one extra aggregation per stage
    // boundary, not an extra pipeline run.
    QueryDef("p12_curation_funnel",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("fp", HashFunctions.md5prefix64(col("text")))
          .withColumn("ntok", TextOps.tokenCount(col("text")).cast("long"))
        val keep = docs.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val canon = docs.join(keep, Seq("fp", "doc_id"))
        val blacklist = docs.filter(col("doc_id") < 10)
          .select(col("fp").as("bfp")).distinct()
        val clean = graft.operators.ScaleOps.bloomAntiJoin(
          canon, "fp", blacklist, "bfp", 1 << 17, 5)
        val gated = clean
          .select(col("doc_id"), col("ntok"),
            HashFunctions.charEntropy(col("text")).as("ce"))
          .filter(col("ce.entropy") >= 2.7 && col("ce.n_chars") >= 100)
        def stat(order: Int, name: String,
                 df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
            .select(lit(order).as("stage_order"), lit(name).as("stage"),
              col("n_docs"), col("n_tokens"))
        stat(0, "raw", docs)
          .unionByName(stat(1, "exact_dedup", canon))
          .unionByName(stat(2, "decontaminated", clean))
          .unionByName(stat(3, "quality", gated))
          .orderBy("stage_order")
      },
      Some("""WITH d AS (
          SELECT doc_id, text,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok
          FROM documents),
        keep AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
        canon AS (SELECT d.* FROM d JOIN keep USING (fp, doc_id)),
        bl AS (SELECT DISTINCT fp FROM d WHERE doc_id < 10),
        clean AS (SELECT * FROM canon WHERE fp NOT IN (SELECT fp FROM bl)),
        ch AS (SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
            i -> substr(text, CAST(i AS INT), 1))) AS c
          FROM clean),
        cnt AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c),
        tot AS (SELECT doc_id, SUM(cnt) AS n FROM cnt GROUP BY doc_id),
        terms AS (
          SELECT cnt.doc_id, cnt.cnt,
            CAST(floor((-((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)))
              * 1000000.0 + 0.5) AS BIGINT) AS tu
          FROM cnt JOIN tot USING (doc_id)),
        agg AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
            CAST(SUM(tu) AS DOUBLE) / 1000000.0 AS entropy
          FROM terms GROUP BY doc_id),
        gated AS (
          SELECT c.doc_id, c.ntok
          FROM clean c JOIN agg a USING (doc_id)
          WHERE a.entropy >= 2.7 AND a.n_chars >= 100)
        SELECT * FROM (
          SELECT 0 AS stage_order, 'raw' AS stage,
            CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens FROM d
          UNION ALL SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM canon
          UNION ALL SELECT 2, 'decontaminated', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM clean
          UNION ALL SELECT 3, 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM gated
        ) t ORDER BY stage_order""")),

    // P12b: the curation funnel with the H17 battery composed as its
    // quality gate — raw → exact dedup → Gopher structural rules
    // (word count / mean word length / symbols / bullets / ellipsis /
    // alpha) → full Gopher (+ required stopwords) → + C4 page rules.
    // Run over corpus ∪ battery so the tail stages are non-vacuous on
    // the synthetic corpus (only the golden doc survives everything —
    // which is the honest verdict on punctuation-free word salad).
    // Same single-scan stat shape as p12: each stage is a row-local
    // filter refinement; no new shuffle beyond the dedup groupBy.
    QueryDef("p12b_curation_funnel_gated",
      (s, dir) => {
        import s.implicits._
        val qr = graft.operators.QualityRules
        val battery = qr.BatteryDocs.toDF("doc_id", "text")
        // r16: spread the one-file scan, and persist the shared
        // subtrees — the 5-stage funnel unions 5 aggregations over
        // the same base/ruled frames, which otherwise re-compute the
        // md5/tokenize/Gopher columns once per stage (par 2.6)
        val docs = graft.operators.TrackedCache.persist(
          graft.operators.ScaleOps.spread(
              Tables.documents(s, dir).select("doc_id", "text")
                .unionByName(battery))
            .withColumn("fp", HashFunctions.md5prefix64(col("text")))
            .withColumn("ntok", TextOps.tokenCount(col("text")).cast("long")))
        val keep = docs.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val canon = docs.join(keep, Seq("fp", "doc_id"))
        val ruled = graft.operators.TrackedCache.persist(
          qr.withRuleColumns(canon, "text"))
        val structural = ruled.filter(
          qr.GopherRules.take(6).map(col).reduce(_ && _))
        val gopher = structural.filter(col("gopher_pass"))
        val full = gopher.filter(col("pass"))
        def stat(order: Int, name: String,
                 df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"),
              coalesce(sum("ntok"), lit(0L)).as("n_tokens"))
            .select(lit(order).as("stage_order"), lit(name).as("stage"),
              col("n_docs"), col("n_tokens"))
        stat(0, "raw", docs)
          .unionByName(stat(1, "exact_dedup", canon))
          .unionByName(stat(2, "gopher_structural", structural))
          .unionByName(stat(3, "gopher_full", gopher))
          .unionByName(stat(4, "c4_full", full))
          .orderBy("stage_order")
      },
      Some(s"""WITH $corpusBatteryCte,
        d AS (
          SELECT doc_id, text,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp,
            CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ntok
          FROM corpus),
        keep AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
        dcanon AS (SELECT d.* FROM d JOIN keep USING (fp, doc_id)),
        $gopherRuleCtes,
        ruled AS (SELECT g.*, dc.ntok FROM gvp g
          JOIN (SELECT doc_id, ntok FROM dcanon) dc USING (doc_id)),
        structural AS (SELECT * FROM ruled
          WHERE r_word_count AND r_mean_word_len AND r_symbol_ratio
            AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words),
        gph AS (SELECT * FROM structural WHERE gopher_pass),
        fl AS (SELECT * FROM gph WHERE pass)
        SELECT * FROM (
          SELECT 0 AS stage_order, 'raw' AS stage,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(coalesce(SUM(ntok), 0) AS BIGINT) AS n_tokens FROM d
          UNION ALL SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
            CAST(coalesce(SUM(ntok), 0) AS BIGINT) FROM dcanon
          UNION ALL SELECT 2, 'gopher_structural', CAST(COUNT(*) AS BIGINT),
            CAST(coalesce(SUM(ntok), 0) AS BIGINT) FROM structural
          UNION ALL SELECT 3, 'gopher_full', CAST(COUNT(*) AS BIGINT),
            CAST(coalesce(SUM(ntok), 0) AS BIGINT) FROM gph
          UNION ALL SELECT 4, 'c4_full', CAST(COUNT(*) AS BIGINT),
            CAST(coalesce(SUM(ntok), 0) AS BIGINT) FROM fl
        ) t ORDER BY stage_order""")),

    // P23: snapshot DIFF report — the "what changed since the last
    // crawl" table every corpus release ships: added / removed /
    // changed / unchanged doc+token counts between two snapshots
    // (classified by an 8-byte content fingerprint full-outer join on
    // doc id), plus the exact-dup-family delta (duplicate docs and
    // redundant token mass per snapshot, F1b's min-keeper semantics)
    // and per-snapshot totals. Snapshots are synthesized
    // deterministically from the one corpus (prev drops ids ≡0 mod
    // 10; curr drops ≡5 mod 10, revises text of ids ≡0 mod 7, and
    // re-ingests exact copies of ids ≡1 mod 13 under new ids — the
    // re-crawl duplication a release diff exists to expose) so all
    // four classes AND the dup-family rows are non-empty at every
    // SF. Scale
    // shape: the join carries (id, 8-byte fp, token count) only; with
    // day-partitioned snapshots the scan prunes to the two release
    // partitions, and the dup aggregation is one map-side-combined
    // groupBy(fp) per snapshot.
    QueryDef("p23_snapshot_diff",
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val prev = base.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"),
            HashFunctions.md5prefix64(col("text")).as("pfp"),
            TextOps.tokenCount(col("text")).cast("long").as("ptok"))
        val curr = base.filter(col("doc_id") % 10 =!= 5)
          .withColumn("t2", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
          .select(col("doc_id"), col("t2"))
          .unionByName(base.filter(col("doc_id") % 13 === 1)
            .select((col("doc_id") + 500000L).as("doc_id"),
              col("text").as("t2")))
          .select(col("doc_id"),
            HashFunctions.md5prefix64(col("t2")).as("cfp"),
            TextOps.tokenCount(col("t2")).cast("long").as("ctok"))
        val classed = prev.join(curr, Seq("doc_id"), "full_outer")
          .withColumn("cls",
            when(col("pfp").isNull, "added")
              .when(col("cfp").isNull, "removed")
              .when(col("pfp") =!= col("cfp"), "changed")
              .otherwise("unchanged"))
          .withColumn("tok", coalesce(col("ctok"), col("ptok")))
        val classRows = classed.groupBy("cls")
          .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
          .withColumn("row_order",
            when(col("cls") === "added", 1).when(col("cls") === "removed", 2)
              .when(col("cls") === "changed", 3).otherwise(4))
          .select(col("row_order"), col("cls").as("metric"),
            col("n_docs"), col("n_tokens"))
        def dupStats(df: org.apache.spark.sql.DataFrame, fpCol: String,
                     tokCol: String, order: Int, name: String) =
          df.groupBy(col(fpCol))
            .agg(count(lit(1)).as("cnt"), sum(col(tokCol)).as("stok"),
              min_by(col(tokCol), col("doc_id")).as("keep_tok"))
            .agg(sum(col("cnt") - 1).as("n_docs"),
              sum(col("stok") - col("keep_tok")).as("n_tokens"))
            .select(lit(order).as("row_order"), lit(name).as("metric"),
              col("n_docs"), col("n_tokens"))
        def totals(df: org.apache.spark.sql.DataFrame, tokCol: String,
                   order: Int, name: String) =
          df.agg(count(lit(1)).as("n_docs"), sum(col(tokCol)).as("n_tokens"))
            .select(lit(order).as("row_order"), lit(name).as("metric"),
              col("n_docs"), col("n_tokens"))
        classRows
          .unionByName(dupStats(prev, "pfp", "ptok", 5, "exact_dup_prev"))
          .unionByName(dupStats(curr, "cfp", "ctok", 6, "exact_dup_curr"))
          .unionByName(totals(prev, "ptok", 7, "total_prev"))
          .unionByName(totals(curr, "ctok", 8, "total_curr"))
          .orderBy("row_order")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
        prev AS (SELECT doc_id,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS pfp,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ptok
          FROM base WHERE doc_id % 10 != 0),
        curr AS (SELECT doc_id,
            ('0x' || substr(md5(t2), 1, 15))::BIGINT AS cfp,
            CAST(len(regexp_split_to_array(trim(t2), '\s+')) AS BIGINT) AS ctok
          FROM (SELECT doc_id,
              CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS t2
            FROM base WHERE doc_id % 10 != 5
            UNION ALL
            SELECT doc_id + 500000 AS doc_id, text AS t2
            FROM base WHERE doc_id % 13 = 1) t0),
        j AS (SELECT doc_id, pfp, ptok, cfp, ctok
          FROM prev FULL OUTER JOIN curr USING (doc_id)),
        classed AS (SELECT *,
            CASE WHEN pfp IS NULL THEN 'added'
                 WHEN cfp IS NULL THEN 'removed'
                 WHEN pfp != cfp THEN 'changed'
                 ELSE 'unchanged' END AS cls,
            coalesce(ctok, ptok) AS tok
          FROM j),
        clsrows AS (SELECT
            CASE cls WHEN 'added' THEN 1 WHEN 'removed' THEN 2
                     WHEN 'changed' THEN 3 ELSE 4 END AS row_order,
            cls AS metric, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(tok) AS BIGINT) AS n_tokens
          FROM classed GROUP BY cls),
        pg AS (SELECT pfp, COUNT(*) AS cnt, SUM(ptok) AS stok,
            min_by(ptok, doc_id) AS keep_tok FROM prev GROUP BY pfp),
        cg AS (SELECT cfp, COUNT(*) AS cnt, SUM(ctok) AS stok,
            min_by(ctok, doc_id) AS keep_tok FROM curr GROUP BY cfp),
        pdup AS (SELECT 5 AS row_order, 'exact_dup_prev' AS metric,
            CAST(SUM(cnt - 1) AS BIGINT) AS n_docs,
            CAST(SUM(stok - keep_tok) AS BIGINT) AS n_tokens FROM pg),
        cdup AS (SELECT 6 AS row_order, 'exact_dup_curr' AS metric,
            CAST(SUM(cnt - 1) AS BIGINT) AS n_docs,
            CAST(SUM(stok - keep_tok) AS BIGINT) AS n_tokens FROM cg),
        ptot AS (SELECT 7 AS row_order, 'total_prev' AS metric,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(ptok) AS BIGINT) AS n_tokens FROM prev),
        ctot AS (SELECT 8 AS row_order, 'total_curr' AS metric,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(ctok) AS BIGINT) AS n_tokens FROM curr)
        SELECT row_order, metric, n_docs, n_tokens FROM (
          SELECT * FROM clsrows UNION ALL SELECT * FROM pdup
          UNION ALL SELECT * FROM cdup UNION ALL SELECT * FROM ptot
          UNION ALL SELECT * FROM ctot) u
        ORDER BY row_order""")),

    // P24: tokenizer FERTILITY report — the per-source table a
    // tokenizer choice is made from (fertility = subword tokens per
    // whitespace word; chars per token): high-fertility sources cost
    // disproportionate sequence length, the standard multilingual /
    // code-corpus diagnostic. Uses h1's BPE-ish regex segmentation as
    // the tokenizer proxy (h12b's trained tokenizer swaps in without
    // changing the report shape). One map-side-combined
    // groupBy(source); ratios are IEEE divisions of exact integer
    // sums — deterministic across engines.
    QueryDef("p24_tokenizer_fertility",
      (s, dir) => Tables.documents(s, dir)
        .select(col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("ws"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe"),
          length(col("text")).cast("long").as("chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
          sum("bpe").as("bpe_tokens"), sum("chars").as("n_chars"))
        .withColumn("fertility",
          col("bpe_tokens").cast("double") / col("ws_tokens"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("bpe_tokens"))
        .orderBy("source"),
      Some("""WITH f AS (
          SELECT source,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
            CAST(length(text) AS BIGINT) AS chars
          FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(ws) AS BIGINT) AS ws_tokens,
          CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
          CAST(SUM(chars) AS BIGINT) AS n_chars,
          CAST(CAST(SUM(bpe) AS BIGINT) AS DOUBLE) / CAST(SUM(ws) AS BIGINT) AS fertility,
          CAST(CAST(SUM(chars) AS BIGINT) AS DOUBLE) / CAST(SUM(bpe) AS BIGINT) AS chars_per_token
        FROM f GROUP BY source ORDER BY source""")),

    // I4: media near-dup pairs — stub pHash (the documented codec
    // seam: exact-sensitive md5 recompose standing in for a DCT
    // pHash) + the GENERIC 4x16-bit banded Hamming join shared with
    // f4b. The corpus is the documents payloads plus re-ingested
    // copies of docs 0..9 (id + 100000) — the re-scrape that media
    // dedup exists to collapse; each copy pairs with its original at
    // Hamming 0. The oracle replays print construction (signed-safe
    // bit-63 recompose), banding, and the popcount verify.
    QueryDef("i4_media_neardup",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val reingested = docs.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 100000)
        val records = graft.operators.Multimodal.toMediaRecords(
          docs.unionByName(reingested), "doc_id", "text")
        graft.operators.Multimodal.mediaNearDupPairs(records, 3)
          .orderBy("a", "b")
      },
      Some("""WITH media AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 10),
        ph AS (SELECT doc_id,
            ('0x' || substr(md5(text), 1, 15))::BIGINT
            + (((('0x' || substr(md5(text), 16, 15))::BIGINT) & 7) << 60)
            + CASE WHEN ((('0x' || substr(md5(text), 16, 15))::BIGINT) & 8) != 0
                THEN (-9223372036854775807 - 1) ELSE CAST(0 AS BIGINT) END AS phash
          FROM media),
        b0 AS (SELECT doc_id, phash,
            unnest(list_transform(range(0, 4),
              b -> {'band': b, 'bv': (phash >> CAST(b * 16 AS INT)) & 65535})) AS u
          FROM ph),
        banded AS (SELECT doc_id, phash, CAST(u.band AS INT) AS band, u.bv AS bv FROM b0),
        pairs AS (
          SELECT x.doc_id AS a, y.doc_id AS b, x.phash AS sa, y.phash AS sb,
            COUNT(*) AS n_bands
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming, n_bands
        FROM pairs WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""")),

    // I5: REAL image pipeline end-to-end (rows-only: no SQL engine
    // decodes PNG, so the roundtrip is instead pinned exactly by
    // MediaCodecSpec): per doc, synthesize a genuine seeded PNG
    // (real ImageIO encode), decode it back via ImageIO, and extract
    // pixel features (BT.601 luma sharpness) per partition batch.
    // Every row returns decoded = true with the synth dimensions —
    // the codec seam i2 documents, now closed with the JDK codec.
    // Corpus bounded to 5000 docs: the per-doc property is what the
    // entry proves, and synthesizing media for EVERY sf1 doc benches
    // payload generation, not analytics (throughput at volume:
    // HISTORY.md, "Media codec throughput").
    QueryDef("i5_real_media_features",
      (s, dir) => {
        import s.implicits._
        // repartition BEFORE the codec stage: a small id-range filter
        // collapses the parquet scan to one partition, which would
        // serialize all decode work — the media family's scale rule
        // is "spread the ids first, the codec is the expensive part"
        val recs = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 5000).repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(it => it.map { id =>
            graft.operators.Multimodal.MediaRecord(
              id, graft.operators.MediaCodec.synthImagePng(id, 48, 32), "image", "png")
          })
        // persist: orderBy's range-partition sampling would otherwise
        // execute the codec subtree twice
        graft.operators.TrackedCache.persist(
            graft.operators.Multimodal.extractFeatures(s, recs).toDF())
          .select("doc_id", "n_bytes", "width", "height", "channels",
            "sharpness", "decoded")
          .orderBy("doc_id")
      },
      None),

    // I5b: perceptual near-dup on REAL pixels (rows-only): docs 0..9
    // re-encoded as lossy JPEG copies (id + 100000) of their seeded
    // PNGs; DCT pHash per partition batch + the 8×8-bit multi-index
    // banded Hamming join (lossless to radius 7 — Norouzi et al.
    // 2012) pairs every copy with its original. Corpus bounded to
    // 2000 docs: the scale path of banded Hamming joins is measured
    // on the generic machinery (f4b/i4); this entry proves the REAL
    // decode→DCT→band pipeline end-to-end.
    QueryDef("i5b_real_media_neardup",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 2000).repartition(s.sparkContext.defaultParallelism).as[Long]
        val recs = ids.mapPartitions(it => it.flatMap { id =>
          // 96x96: below ~3x the 32x32 pHash grid, JPEG block noise
          // dominates the area-average and drift exceeds the band
          // radius (measured: max 30 bits at 48x32; at 96x96 max 6
          // over these 10 pairs — i5d's 500-seed report puts the
          // population tail at 8, i.e. radius-7 banding carries a
          // measured 2-in-500 candidate miss)
          val png = graft.operators.MediaCodec.synthImagePng(id, 96, 96)
          val orig = graft.operators.Multimodal.MediaRecord(id, png, "image", "png")
          if (id < 10)
            Iterator(orig, graft.operators.Multimodal.MediaRecord(
              id + 100000,
              graft.operators.MediaCodec.reencodeJpeg(png).get, "image", "jpeg"))
          else Iterator(orig)
        })
        graft.operators.Multimodal.mediaNearDupPairsReal(s, recs, maxHamming = 7)
          .orderBy("a", "b")
      },
      None),

    // I5c: the MEASURED two-level operating point — candidates from
    // the stable 64-bit code's radius-7 bands, CONFIRMED at Hamming
    // ≤ 75 on the 256-bit fine code (dup drift ≤ 58, cross ≥ 94 over
    // 500 seeds: a 36-bit gap where the 64-bit code's is 5). Same
    // corpus as i5b; emits both distances so the driver row carries
    // the threshold audit. r11: the driver entry ships the TWO-PASS
    // operator (radius-7 exact bands + the Hamming-1 band probe over
    // first-pass-unmatched assets, radius 10) with the `pass` column
    // recording which stage surfaced each pair — the operating point
    // the i5d report measures at 100 % candidate recall. Rows-only
    // (no SQL engine decodes PNG); MediaCodecSpec pins the gap, the
    // pair set, and the 500-pair two-pass recall.
    QueryDef("i5c_real_media_neardup_precise",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 2000).repartition(s.sparkContext.defaultParallelism).as[Long]
        val recs = ids.mapPartitions(it => it.flatMap { id =>
          val png = graft.operators.MediaCodec.synthImagePng(id, 96, 96)
          val orig = graft.operators.Multimodal.MediaRecord(id, png, "image", "png")
          if (id < 10)
            Iterator(orig, graft.operators.Multimodal.MediaRecord(
              id + 100000,
              graft.operators.MediaCodec.reencodeJpeg(png).get, "image", "jpeg"))
          else Iterator(orig)
        })
        graft.operators.Multimodal.mediaNearDupPairsPrecise2(s, recs)
          .orderBy("a", "b")
      },
      None),

    // I5d: the confirm-threshold OPERATING REPORT — the F10/G8
    // treatment applied to i5c's Hamming-75 choice, so the last
    // eyeballed threshold in the repo becomes a queryable instrument:
    // two labeled pair populations over ONE hash pass (planted dups =
    // id ↔ its JPEG re-encode; distinct probes = adjacent seeds
    // id ↔ id+1), 256-bit distance per pair, then per (population,
    // candidate threshold 50..100) the confirmed counts plus the
    // population's distance extrema plus the CANDIDATE-stage recall
    // (n_cand64 = pairs the 64-bit radius-7 banding would surface).
    // MEASURED at 500 seeds: dup h256 ∈ [10, 54], distinct ∈
    // [94, 160] — a 40-bit gap, so every threshold in 60..90 confirms
    // all dups and zero distincts and 75 sits MID-GAP; and the
    // candidate stage itself misses a 2-in-500 tail (two dup pairs
    // drift to 64-bit Hamming 8 > radius 7 — 99.6 % candidate
    // recall, the honest cost of the banded operating point that
    // i5b's 10-pair corpus was too small to expose). Rows-only (no
    // SQL engine decodes PNG); MediaCodecSpec pins the gap rows.
    // Scale: the report is per-corpus-sample (500 seeds), not
    // per-corpus-row; the hash frame is persisted and both
    // populations + all thresholds read it — one decode pass, 11
    // broadcast threshold rows.
    QueryDef("i5d_media_confirm_operating_report",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 500)
          .repartition(s.sparkContext.defaultParallelism).as[Long]
        val recs = ids.mapPartitions(it => it.flatMap { id =>
          val png = graft.operators.MediaCodec.synthImagePng(id, 96, 96)
          Iterator(
            graft.operators.Multimodal.MediaRecord(id, png, "image", "png"),
            graft.operators.Multimodal.MediaRecord(id + 100000L,
              graft.operators.MediaCodec.reencodeJpeg(png).get, "image", "jpeg"))
        })
        val hashes = graft.operators.TrackedCache.persist(
          graft.operators.Multimodal.realPHashes2(s, recs).toDF()
            .select("doc_id", "phash", "phash256"))
        val base = ids.toDF("a")
        val pairs = base
          .select(col("a"), (col("a") + 100000L).as("b"), lit("dup").as("pop"))
          .unionByName(base.filter(col("a") < 499)
            .select(col("a"), (col("a") + 1L).as("b"), lit("distinct").as("pop")))
        val ha = hashes.select(col("doc_id").as("a"),
          col("phash").as("pa64"), col("phash256").as("pa"))
        val hb = hashes.select(col("doc_id").as("b"),
          col("phash").as("pb64"), col("phash256").as("pb"))
        val dists = graft.operators.TrackedCache.persist(
          pairs.join(ha, Seq("a")).join(hb, Seq("b"))
            .withColumn("h64", expr("CAST(bit_count(pa64 ^ pb64) AS INT)"))
            .withColumn("h256", expr(
              """aggregate(zip_with(pa, pb, (x, y) -> bit_count(x ^ y)),
                 0, (acc, v) -> acc + v)"""))
            .select("pop", "h64", "h256"))
        val thresholds = (50 to 100 by 5).toDF("threshold")
        dists.crossJoin(broadcast(thresholds))
          .groupBy("pop", "threshold")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("h256") <= col("threshold"), 1L).otherwise(0L))
              .as("n_confirmed"),
            min(col("h256")).as("min_h256"),
            max(col("h256")).as("max_h256"),
            max(col("h64")).as("max_h64"),
            sum(when(col("h64") <= 7, 1L).otherwise(0L)).as("n_cand64"),
            // TWO-PASS candidate recall (r11): pairs surfaced by the
            // radius-7 exact-band stage OR the Hamming-1 band-probe
            // second pass over its misses (h64 ≤ 10, the shipped
            // radius2 — mediaNearDupPairsPrecise2). The r10 report
            // measured the 2-in-500 drift-8 tail; this column records
            // the second pass recovering it: n_cand64_p2 == n_pairs
            // for dups (100 % candidate recall at the operating
            // point), still 0 for distinct probes (floor ≥ 12).
            sum(when(col("h64") <= 10, 1L).otherwise(0L)).as("n_cand64_p2"))
          .orderBy("pop", "threshold")
      },
      None),

    // I6: WAV/RIFF audio parse on genuine synthesized PCM bytes
    // (rows-only: the exact rate/frames/duration/RMS roundtrip is
    // pinned by MediaCodecSpec): seeded 16-bit sine WAVs parsed back
    // by the direct RIFF chunk reader — real audio metadata
    // extraction with zero external libraries.
    QueryDef("i6_wav_meta",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 10000).repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(it => it.map { id =>
            val wav = graft.operators.MediaCodec.synthWav(id, 8000, 40)
            val m = graft.operators.MediaCodec.parseWav(wav).get
            (id, wav.length, m.sampleRate, m.channels, m.nFrames,
              m.durationMs, m.rmsMilli)
          })
          .toDF("doc_id", "n_bytes", "sample_rate", "channels", "n_frames",
            "duration_ms", "rms_milli")
          // the i5 persist fence: without it the orderBy range sampler
          // re-runs the synth+parse map for the whole batch
          .transform(graft.operators.TrackedCache.persist(_))
          .orderBy("doc_id")
      },
      None),

    // I7: REAL multi-frame pipeline — keyframe selection over
    // animated GIFs (the container's genuine video-like format;
    // ImageIO reads AND writes frame sequences): per doc, synthesize
    // an 8-frame 96×96 GIF with a planted scene change at frame
    // 2 + id%5 (scene 2 = photometric inverse of the panning field —
    // every decisive DCT sign flips, so cross-cut Hamming ≥ 48 BY
    // CONSTRUCTION while within-scene codec + 1-px-pan drift
    // measured ≤ 16 over 2000 seeds), decode every frame, per-frame
    // DCT pHash, detect shot boundaries (consecutive Hamming > 28 —
    // MID-GAP between measured within-scene drift ≤ 16 and cross ≥ 48),
    // emit keyframes (frame 0 + each cut) and the uniform
    // 4-of-8 sampling grid. Rows-only (no SQL engine decodes GIF);
    // MediaCodecSpec pins detected cut == planted cut. Corpus
    // bounded to 1000 docs: per-doc cost is the 8-frame
    // encode+decode, and the detection property is per-doc, not
    // corpus-scale; the banded-join scale path for the RESULTING
    // keyframe prints is i5b's machinery.
    QueryDef("i7_gif_keyframes",
      (s, dir) => {
        import s.implicits._
        // GIF encode (palette quantization) is the costliest codec in
        // the family (~130 ms/clip single-threaded): spread ids FIRST
        // (the filtered scan is one partition) and persist before the
        // sort so range-partition sampling doesn't re-encode
        val frames = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 1000).repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(it => it.map { id =>
            val cutAt = 2 + (id % 5).toInt
            val gif = graft.operators.MediaCodec.synthGifAnimated(id, 96, 96, 8, cutAt)
            val hs = graft.operators.MediaCodec.gifFramePHashes(gif).get
            val cuts = graft.operators.MediaCodec.sceneCuts(hs)
            // frame-index lists presented as comma strings: the
            // driver's rows-only harness sorts through pandas, which
            // cannot factorize ndarray cells (r9's only driver err);
            // the typed Array[Int] API stays on MediaCodec + its spec
            (id, gif.length, hs.length, cuts.length,
              if (cuts.nonEmpty) cuts(0) else -1,
              (0 +: cuts.toSeq).mkString(","),
              graft.operators.MediaCodec.uniformFrameIdx(hs.length, 4).mkString(","))
          })
          .toDF("doc_id", "n_bytes", "n_frames", "n_cuts", "first_cut",
            "keyframes", "sampled")
        graft.operators.TrackedCache.persist(frames).orderBy("doc_id")
      },
      None),

    // I8: REAL audio feature gate — zero-crossing rate + dominant
    // frequency by argmax Goertzel single-bin power over a 5 Hz probe
    // grid (the tonality/hum/speech-band signals an audio curation
    // pass computes), all directly over 16-bit PCM samples. Rows-only
    // (no SQL engine parses WAV); MediaCodecSpec pins dominant == the
    // planted 220 + id%660 Hz to the nearest grid point and
    // ZCR ≈ 2·f·duration.
    QueryDef("i8_audio_features",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 2000).repartition(s.sparkContext.defaultParallelism).as[Long]
          .mapPartitions(it => it.map { id =>
            val wav = graft.operators.MediaCodec.synthWav(id, 8000, 100)
            val m = graft.operators.MediaCodec.parseWav(wav).get
            (id, m.rmsMilli,
              graft.operators.MediaCodec.zeroCrossings(wav).get,
              graft.operators.MediaCodec.dominantFreq(wav, 100, 1000, 5).get)
          })
          .toDF("doc_id", "rms_milli", "zero_crossings", "dominant_hz")
          // the i5 persist fence: without it the orderBy range sampler
          // re-runs the synth+analyze map for the whole batch
          .transform(graft.operators.TrackedCache.persist(_))
          .orderBy("doc_id")
      },
      None),

    // I9: VIDEO/sequence-level media dedup — re-encoded and TRIMMED
    // copies of one clip collapse at the ASSET grain (the video half
    // of the multimodal dedup story, on the I7 keyframe machinery):
    // one decode per asset yields the per-frame print table; banded
    // Hamming join over KEYFRAME prints (scene representatives —
    // ~scenes rows per asset in the index) surfaces candidates;
    // frame-set overlap confirms (a trimmed copy covers 100% of
    // itself; a spurious single-keyframe collision covers ~1/n and
    // dies). Planted per id < 15: a decode→re-encode copy (palette
    // requantization, drift ~0) and a drop-2-frames trim (surviving
    // frames bit-identical) — all three pairings of {orig, re-enc,
    // trim} collapse, 45 pairs (+1 measured at sf0.01: seeds 143/293
    // are synth pHash twins with FULL 8/8 frame coverage both ways —
    // the i5d seeds-203/381 birthday-collision class; the metric
    // honestly says those clips look alike). Rows-only (no SQL
    // engine decodes GIF); MediaCodecSpec pins planted-found + no
    // distinct-clip pairs. Scale: pixels never shuffle (8-byte
    // prints out of the
    // decode partition), candidates Σ bucket² over keyframe bands,
    // confirm fan-out per candidate only.
    QueryDef("i9_video_neardup",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 300)
          .repartition(s.sparkContext.defaultParallelism).as[Long]
        val recs = ids.mapPartitions(it => it.flatMap { id =>
          val cutAt = 2 + (id % 5).toInt
          val gif = graft.operators.MediaCodec.synthGifAnimated(id, 96, 96, 8, cutAt)
          val orig = graft.operators.Multimodal.MediaRecord(id, gif, "video", "gif")
          if (id < 15)
            Iterator(orig,
              graft.operators.Multimodal.MediaRecord(id + 100000L,
                graft.operators.MediaCodec.reencodeGif(gif).get, "video", "gif"),
              graft.operators.Multimodal.MediaRecord(id + 200000L,
                graft.operators.MediaCodec.trimGif(gif, 2).get, "video", "gif"))
          else Iterator(orig)
        })
        val prints = graft.operators.Multimodal.videoFramePrints(s, recs)
        graft.operators.Multimodal.videoNearDupPairs(prints)
          .orderBy("a", "b")
      },
      None),

    // I10: AUDIO near-dup — gain-scaled and requantized copies of one
    // recording collapse (the audio half of the multimodal dedup
    // story, as I9 is the video half): per asset, one real WAV decode
    // + a 64-bit chromaprint-style time-frequency sign hash (16 time
    // windows × 4 Goertzel band probes, bit = energy above own-band
    // mean — gain-invariant by construction), then the I5b banded
    // Hamming join. Planted per id < 15: a half-gain copy (Hamming
    // ~0) and an 8-bit requantized copy (a few bits) — all three
    // pairings collapse. Melodies are md5-mixed per (seed, window)
    // so no modular seed structure aliases clips; a surviving pair
    // between distinct seeds means ≥ 13 of 16 shared tone windows —
    // clips that genuinely sound alike (the i9-twin honesty note,
    // MEASURED: sf0.01's 500 docs yield 46 rows = 45 planted + 1
    // near-melody pair (272/459 at Hamming 6); sf1's full 2000-clip
    // bound yields 54 = 45 + 9 over ~2M candidate pairs — the
    // 4^16-pattern birthday rate, arriving as predicted). Rows-only
    // (no SQL engine decodes WAV);
    // MediaCodecSpec pins the transforms and the operator. Scale:
    // samples never shuffle (8-byte prints out of the decode
    // partition), candidates Σ bucket² over fingerprint bands.
    QueryDef("i10_audio_neardup",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") < 2000)
          .repartition(s.sparkContext.defaultParallelism).as[Long]
        val recs = ids.mapPartitions(it => it.flatMap { id =>
          val wav = graft.operators.MediaCodec.synthWavMelody(id, 8000, 160)
          val orig = graft.operators.Multimodal.MediaRecord(id, wav, "audio", "wav")
          if (id < 15)
            Iterator(orig,
              graft.operators.Multimodal.MediaRecord(id + 100000L,
                graft.operators.MediaCodec.scaleWavGain(wav, 1, 2).get, "audio", "wav"),
              graft.operators.Multimodal.MediaRecord(id + 200000L,
                graft.operators.MediaCodec.requantizeWav8(wav).get, "audio", "wav"))
          else Iterator(orig)
        })
        graft.operators.Multimodal.audioNearDupPairs(s, recs)
          .orderBy("a", "b")
      },
      None),

    // I11: CROSS-MODAL dedup agreement — the F12 treatment across
    // modalities: text near-dup pairs (f3's banded MinHash on the
    // caption text) ∩ perceptual media pairs (i5b's real
    // decode→DCT→band pipeline) as integer set counts + Jaccard.
    // Three planted twin populations over docs 0..9 exercise every
    // agreement cell: +100000 = same caption + re-encoded image
    // (BOTH passes), +200000 = same caption + fresh image (text
    // only — an image re-posted under a recycled caption), +300000 =
    // fresh caption + re-encoded image (media only — the re-post
    // under new text that ONLY perceptual dedup catches). Rows-only
    // (no SQL engine decodes PNG); MultimodalSpec pins the exact
    // planted counts on a controlled corpus. Scale: two documented
    // banded pair pipelines + one join of PAIR LISTS — the corpus is
    // never pairwise-compared.
    QueryDef("i11_crossmodal_agreement",
      (s, dir) => {
        val (_, textPairs, mediaPairs) = crossModalFrames(s, dir)
        graft.operators.Multimodal.crossModalAgreement(textPairs, mediaPairs)
      },
      None),

    // I12: cross-modal CANONICAL selection — I11's two pair lists
    // composed into ONE component graph (union of text and media
    // edges at asset grain) with P6 keep-best over it: the joint
    // dedup decision a multimodal corpus actually ships. Each planted
    // base doc's three twins (text-only, media-only, both) collapse
    // into a single 4-member cluster with exactly one canonical
    // (longest caption wins, ties to the smallest id); everything
    // unpaired keeps itself. Rows-only (media hashes aren't SQL-
    // replayable); MultimodalSpec pins the planted component and
    // canonical counts on a controlled corpus. Scale: the union
    // graph stays PAIR-BOUNDED (sum of two banded candidate lists —
    // Σ bucket², never all-pairs); the corpus joins once by id for
    // the quality argmax (§5 note).
    QueryDef("i12_crossmodal_canonical",
      (s, dir) => {
        // memoized like f7's components: the iterative components
        // loop is ~15 driver-fenced jobs per run, and the decision is
        // the session's dedup artifact (474 rows at sf0.01), not
        // per-read work
        val frame = graft.operators.TrackedCache.memo(s,
            ("i12-canonical", dir, Tables.fingerprint(s, dir, "documents"))) {
          val (corpus, textPairs, mediaPairs) = crossModalFrames(s, dir)
          val docsQ = corpus.withColumn("quality",
            length(col("text")).cast("long"))
            .select("doc_id", "quality")
          graft.operators.Multimodal.crossModalCanonical(
              textPairs, mediaPairs, docsQ, "doc_id", "quality")
            .localCheckpoint()
        }
        frame.orderBy("component")
      },
      None),

    // F11: shingle document-frequency report — the instrument that
    // SIZES F2/F3's df-cap (currently 100) instead of trusting it:
    // a log2 histogram of shingle document frequencies with, per
    // bucket, the shingle count, total occurrences (= join-side
    // rows, whose per-key square is the f2 work term), and how many
    // of the bucket's shingles the current cap drops. The F10
    // precision/recall report measures what banding loses; this
    // measures what the cap costs and what keeping the head would
    // cost in Σc² join work. One shingle-set aggregation (shared
    // cache) + one bucket aggregation — both map-side combined,
    // output ≤ log2(max df) rows. floor(log2(df)) is exact-integer
    // portable: log2 of a power of two is exact in any correctly-
    // rounded libm, and non-powers sit strictly inside buckets.
    QueryDef("f11_shingle_df_report",
      (s, dir) => {
        val sh = Dedup.sharedShingleSet(Tables.documents(s, dir), "doc_id", "text", 4)
        sh.groupBy("shh").agg(count(lit(1)).as("df"))
          .withColumn("df_bucket", floor(log2(col("df").cast("double"))).cast("long"))
          .groupBy("df_bucket")
          .agg(count(lit(1)).as("n_shingles"),
            sum(col("df")).as("n_occurrences"),
            sum(when(col("df") > 100, 1L).otherwise(0L)).as("n_capped"))
          .orderBy("df_bucket")
      },
      Some(s"""WITH $ShingleCte,
        dfq AS (SELECT shh, COUNT(*) AS c FROM sh GROUP BY shh)
        SELECT CAST(floor(log2(CAST(c AS DOUBLE))) AS BIGINT) AS df_bucket,
          COUNT(*) AS n_shingles, CAST(SUM(c) AS BIGINT) AS n_occurrences,
          CAST(SUM(CASE WHEN c > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
        FROM dfq GROUP BY 1 ORDER BY 1""")),

    // E25b: heavy hitters via Misra-Gries screen + exact verify —
    // the e25 top-K family's 10¹⁰-key spelling. Pass 1 folds the
    // token stream into one K21 summary (≤ 4096 pairs per partial
    // buffer, map-side combined — the shuffle is SKETCH-sized, where
    // e25's exact aggregation shuffles one row per distinct key).
    // Pass 2 re-counts ONLY the ≤ 4096 candidates exactly
    // (broadcast semi join) and keeps those above the n/1500
    // frequency threshold. The MG merge bound (undercount ≤ n/4097 <
    // n/1500) makes the screen false-negative-free above the
    // threshold, so screen + verify ≡ the exact heavy-hitter query —
    // bit-exact and oracle-able even though the sketch's surviving
    // low-frequency keys are partition-order-dependent. The oracle
    // is the plain exact GROUP BY ... HAVING — different spelling,
    // provably equal output.
    QueryDef("e25b_heavy_hitters",
      (s, dir) => {
        val tok = tokFrame(s, dir)
          .withColumn("h", HashFunctions.md5prefix64(col("w")))
        val cand = tok.agg(
            graft.functions.MisraGries.misraGries64(col("h"), 4096).as("cands"))
          .select(explode(col("cands")).as("h"))
        val tot = tok.agg(count(lit(1)).as("n"))
        tok.join(broadcast(cand), "h")
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(col("cnt") * 1500 > col("n"))
          .select("w", "cnt")
          .orderBy("w")
      },
      Some("""WITH tok AS (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        tot AS (SELECT COUNT(*) AS n FROM tok)
        SELECT w, COUNT(*) AS cnt
        FROM tok CROSS JOIN tot GROUP BY w, n
        HAVING COUNT(*) * 1500 > n ORDER BY w""")),

    // E25c: heavy hitters via Count-Min screen + exact verify — the
    // OVERCOUNT-side sibling of e25b's Misra-Gries composition
    // (Cormode & Muthukrishnan 2005). Pass 1 folds the token stream
    // into ONE 4×2048 counter matrix (K25 — the shuffle is
    // sketch-sized, like e25b/K17). Pass 2 probes the driver-shipped
    // matrix INSIDE the scan of the cached token frame: rows whose
    // estimate can't reach n/1500 die before the exchange (the bloom
    // pattern with counters), and only candidate-key rows take the
    // exact aggregation. CMS never underestimates, so the screen has
    // no false negatives above the threshold and screen + verify ≡
    // the exact heavy-hitter query — bit-exact and oracle-able even
    // though estimates themselves carry collision noise. The oracle
    // is the plain exact GROUP BY ... HAVING.
    QueryDef("e25c_heavy_hitters_cms",
      (s, dir) => {
        import graft.functions.CmsFunctions
        val tok = tokFrame(s, dir)
          .withColumn("h", HashFunctions.md5prefix64(col("w")))
        val bytes = tok.agg(CmsFunctions.cmsAgg(col("h"), 4, 2048))
          .head().getAs[Array[Byte]](0)
        val tot = tok.agg(count(lit(1)).as("n"))
        tok.crossJoin(broadcast(tot))
          .filter(CmsFunctions.cmsEstimate(bytes, col("h")) * 1500 > col("n"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(col("cnt") * 1500 > col("n"))
          .select("w", "cnt")
          .orderBy("w")
      },
      Some("""WITH tok AS (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        tot AS (SELECT COUNT(*) AS n FROM tok)
        SELECT w, COUNT(*) AS cnt
        FROM tok CROSS JOIN tot GROUP BY w, n
        HAVING COUNT(*) * 1500 > n ORDER BY w""")),

    // E25d: CMS SIZING report (the e14f/F10 instrument treatment for
    // the Count-Min sketch): measured overestimate error per width —
    // per W ∈ {256, 1024, 4096} (depth 4), the per-token-type error
    // est − true (≥ 0 always: the CMS overcount guarantee), reported
    // as max / sum / #exact with n_cells as the cost axis, so a
    // pipeline owner sizes the screen's width against a measured
    // error instead of the ε = e/W bound. FULLY ORACLED: the sketch
    // hashing (splitmix64 Kirsch–Mitzenmacher double hashing) is
    // replayed cell-by-cell in DuckDB via unsigned-HUGEINT limb
    // arithmetic — wrap-around multiplies decomposed into 32-bit
    // limbs, logical shifts as integer division, both engines
    // byte-agreeing on every counter. Scale: each width is one
    // sketch-sized aggregation over the token stream + one pass over
    // the TYPE frame (vocabulary grain, not occurrences).
    QueryDef("e25d_cms_sizing_report",
      (s, dir) => {
        // ONE corpus aggregation prices ALL widths: the coarser
        // sketches fold down from the finest matrix driver-side
        // (power-of-two cell masks nest, so counter groups congruent
        // mod the narrower width sum to the direct sketch BIT-EXACTLY
        // — CmsUtil.foldWidth, fold ≡ direct spec-pinned in CmsSpec)
        import graft.functions.{CmsFunctions, CmsUtil}
        val tok = tokFrame(s, dir)
          .withColumn("h", HashFunctions.md5prefix64(col("w")))
        val types = graft.operators.TrackedCache.persist(
          tok.groupBy("w", "h").agg(count(lit(1)).as("cnt")))
        val finest = tok.agg(CmsFunctions.cmsAgg(col("h"), 4, 4096))
          .head().getAs[Array[Byte]](0)
        val per = Seq(256, 1024, 4096).map { wdt =>
          val bytes =
            if (wdt == 4096) finest else CmsUtil.foldWidth(finest, wdt)
          types.select(col("cnt"),
              (CmsFunctions.cmsEstimate(bytes, col("h")) - col("cnt")).as("err"))
            .agg(count(lit(1)).as("n_types"),
              max(col("err")).as("max_overestimate"),
              sum(col("err")).as("sum_overestimate"),
              sum(when(col("err") === 0, 1L).otherwise(0L)).as("n_exact"))
            .select(lit(wdt.toLong).as("width"), lit(4L).as("depth"),
              lit(4L * wdt).as("n_cells"), col("n_types"),
              col("max_overestimate"), col("sum_overestimate"),
              col("n_exact"))
        }
        QueryDefs.sortedSmall(per.reduce(_ unionByName _), col("width"))
      },
      Some {
        val P = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
        def umul(a: String, c: BigInt): String =
          s"(((($a) % 4294967296) * CAST($c AS HUGEINT)) % $P + " +
            s"(((($a) // 4294967296) * CAST($c AS HUGEINT)) % 4294967296) * 4294967296) % $P"
        val C1 = BigInt("11400714819323198485") // 0x9E3779B97F4A7C15
        val C2 = BigInt("13787848793156543929") // 0xBF58476D1CE4E5B9
        val C3 = BigInt("10723151780598845931") // 0x94D049BB133111EB
        val S2 = BigInt("14106333701151145020") // CMS Salt2 = 0xC3C3C3C33C3C3C3C
        def rep(w: Int): String = {
          val counters = (0 until 4).map(r =>
            s"""cw${w}_$r AS (SELECT c$r % $w AS cell, SUM(cnt) AS cc
               FROM cc GROUP BY 1)""").mkString(",\n          ")
          val joins = (0 until 4).map(r =>
            s"JOIN cw${w}_$r e$r ON t.c$r % $w = e$r.cell").mkString(" ")
          s"""$counters,
          est$w AS (
            SELECT t.cnt, LEAST(e0.cc, e1.cc, e2.cc, e3.cc) AS est
            FROM cc t $joins),
          rep$w AS (
            SELECT CAST($w AS BIGINT) AS width, CAST(4 AS BIGINT) AS depth,
              CAST(${4 * w} AS BIGINT) AS n_cells,
              CAST(COUNT(*) AS BIGINT) AS n_types,
              CAST(MAX(est - cnt) AS BIGINT) AS max_overestimate,
              CAST(SUM(est - cnt) AS BIGINT) AS sum_overestimate,
              CAST(SUM(CASE WHEN est = cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
            FROM est$w)"""
        }
        s"""WITH tok AS (
            SELECT unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'), w -> w != '')) AS w
            FROM documents),
          types AS (
            SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY w),
          x0 AS (SELECT w, cnt, CAST(h AS HUGEINT) AS a,
                   xor(CAST(h AS HUGEINT), CAST($S2 AS HUGEINT)) AS b FROM types),
          x1 AS (SELECT w, cnt, (a + CAST($C1 AS HUGEINT)) % $P AS a,
                   (b + CAST($C1 AS HUGEINT)) % $P AS b FROM x0),
          x2 AS (SELECT w, cnt, xor(a, a // 1073741824) AS a,
                   xor(b, b // 1073741824) AS b FROM x1),
          x3 AS (SELECT w, cnt, ${umul("a", C2)} AS a, ${umul("b", C2)} AS b FROM x2),
          x4 AS (SELECT w, cnt, xor(a, a // 134217728) AS a,
                   xor(b, b // 134217728) AS b FROM x3),
          x5 AS (SELECT w, cnt, ${umul("a", C3)} AS a, ${umul("b", C3)} AS b FROM x4),
          x6 AS (SELECT w, cnt, xor(a, a // 2147483648) AS h1,
                   xor(b, b // 2147483648) AS h2r FROM x5),
          hh AS (SELECT w, cnt, h1, h2r - (h2r % 2) + 1 AS h2 FROM x6),
          cc AS (SELECT w, cnt,
                   h1 % $P AS c0, (h1 + h2) % $P AS c1,
                   (h1 + 2 * h2) % $P AS c2, (h1 + 3 * h2) % $P AS c3 FROM hh),
          ${rep(256)},
          ${rep(1024)},
          ${rep(4096)}
          SELECT * FROM rep256 UNION ALL SELECT * FROM rep1024
          UNION ALL SELECT * FROM rep4096
          ORDER BY width"""
      }),

    // P13: DSIR-style importance resampling (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling") — the
    // public-method data-selection step: score every raw document by
    // how target-domain-like its hashed n-gram distribution is, then
    // draw a sample ∝ weight via deterministic Gumbel-top-k. Features
    // are unigrams+bigrams hashed into 256 buckets (one explode);
    // bucket log-ratios lam[b] = ln p̂_target[b] − ln q̂_raw[b]
    // (add-1 smoothed) are quantized to integer MICROS, so the
    // per-doc log-weight is an exact int64 dot product — portable
    // despite the transcendental ln (the p11 treatment). The Gumbel
    // key −ln(−ln(u)) draws u from a 60-bit doc-id hash, quantized
    // the same way; selection = top-K by (key, doc_id) — rank-based,
    // no RNG state, rerun-identical. Scale shape: one corpus explode,
    // a (doc, bucket) count (map-side combined, keys ≤ docs×256), a
    // 256-row bucket frame broadcast back, one per-doc aggregation,
    // and a TakeOrdered K — the corpus never globally sorts and
    // never shuffles on anything wider than an 8-byte key.
    QueryDef("p13_dsir_resampling",
      (s, dir) => {
        val targets = Seq("src18", "src6", "src7")
        val grams = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("ws"))
          .withColumn("gs", expr(
            """concat(ws, CASE WHEN size(ws) >= 2
                 THEN transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))
                 ELSE slice(ws, 1, 0) END)"""))
          // explode_outer: plain explode's InferFiltersFromGenerate
          // guard would inline and re-run the gram-building transform
          // (the round-1 shingle lesson); every doc has ≥1 token so
          // the outer variant is semantically identical here
          .select(col("doc_id"), col("source"), explode_outer(col("gs")).as("g"))
        // The (doc, bucket) count frame feeds BOTH the bucket-ratio
        // aggregation and the per-doc dot product — persisted so the
        // corpus explode+hash runs once (the f2/tokFrame treatment).
        val feat = graft.operators.TrackedCache.persist(grams
          .withColumn("b", pmod(
            HashFunctions.md5prefix64(concat(lit("dsir:"), col("g"))), lit(256L)))
          .groupBy("doc_id", "source", "b")
          .agg(count(lit(1)).as("n")))
        val bucket = feat.groupBy("b").agg(
          sum(when(col("source").isin(targets: _*), col("n")).otherwise(lit(0L))).as("ct"),
          sum(col("n")).as("cr"))
        val totals = bucket.agg(sum("ct").as("tt"), sum("cr").as("tr"))
        val lam = bucket.crossJoin(broadcast(totals))
          .withColumn("lam_u", floor(
            (log((col("ct") + 1).cast("double") / (col("tt") + 256).cast("double"))
              - log((col("cr") + 1).cast("double") / (col("tr") + 256).cast("double")))
              * lit(1e6) + lit(0.5)).cast("long"))
          .select("b", "lam_u")
        feat.join(broadcast(lam), "b")
          .groupBy("doc_id")
          .agg(sum(col("n") * col("lam_u")).as("logw_u"))
          .withColumn("key_u", col("logw_u") + floor(
            -log(-log((pmod(HashFunctions.md5prefix64(
              concat(lit("dsir-g:"), col("doc_id").cast("string"))), lit(1000000L))
              + lit(0.5)) / lit(1e6)))
              * lit(1e6) + lit(0.5)).cast("long"))
          .select("doc_id", "logw_u", "key_u")
          .orderBy(col("key_u").desc, col("doc_id"))
          .limit(50)
      },
      Some("""WITH words AS (
          SELECT doc_id, source,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        grams AS (
          SELECT doc_id, source, unnest(list_concat(ws,
            list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]))) AS g
          FROM words),
        feat AS (
          SELECT doc_id, source,
            ('0x' || substr(md5('dsir:' || g), 1, 15))::BIGINT % 256 AS b,
            COUNT(*) AS n
          FROM grams GROUP BY 1, 2, 3),
        bucket AS (
          SELECT b,
            SUM(CASE WHEN source IN ('src18', 'src6', 'src7') THEN n ELSE 0 END) AS ct,
            SUM(n) AS cr
          FROM feat GROUP BY b),
        tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM bucket),
        lam AS (
          SELECT b, CAST(floor(
            (ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
             - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE)))
            * 1000000.0 + 0.5) AS BIGINT) AS lam_u
          FROM bucket CROSS JOIN tot),
        w AS (
          SELECT doc_id, CAST(SUM(n * lam_u) AS BIGINT) AS logw_u
          FROM feat JOIN lam USING (b) GROUP BY doc_id)
        SELECT doc_id, logw_u,
          logw_u + CAST(floor(-ln(-ln(
            (('0x' || substr(md5('dsir-g:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 1000000 + 0.5) / 1000000.0))
            * 1000000.0 + 0.5) AS BIGINT) AS key_u
        FROM w ORDER BY key_u DESC, doc_id LIMIT 50""")),

    // P14: CCNet-style perplexity bucketing (Wenzek et al. 2020) —
    // split the corpus into head/middle/tail terciles by LM score
    // (here H7's corpus-unigram NLL stands in for the external 5-gram
    // LM, same monotone role) and keep each bucket at a different
    // rate (head 100 %, middle 50 %, tail 10 %): the classic
    // quality-vs-diversity mixing knob. Tercile boundaries come from
    // a 2-dp histogram of the quantized NLL — the cumulative window
    // runs over the ≤ few-hundred-row histogram, never the corpus,
    // and boundary thresholds use integer ceil (`div`), so bucket
    // edges are bit-portable; every doc inside one 2-dp cell lands
    // in the same bucket on both engines by construction. Keep
    // decisions are the P5 hash-threshold (deterministic, shuffle-
    // free). Scale shape: H7's count-weighted token shuffles (shared
    // K28 fact cache) + one tiny histogram + broadcast thresholds — the
    // per-doc frame never reshuffles.
    QueryDef("p14_perplexity_buckets",
      (s, dir) => {
        // K28 distinct-grain facts, count-weighted (h7's spelling)
        val tok = graft.operators.TrackedCache.persist(sharedTokenCounts(s, dir))
        val totals = tok.agg(sum(col("c")).as("__n_total"))
        val freq = tok.groupBy(col("w")).agg(sum(col("c")).as("__cnt"))
        val nll = QueryDefs.q6(-log(col("__cnt").cast("double") / col("__n_total")))
        // the per-doc score frame feeds BOTH the histogram branch and
        // the final bucket assignment — persisted so the NLL
        // aggregation runs once (narrow: 3 columns × #docs)
        val doc = graft.operators.TrackedCache.persist(tok.join(freq, "w")
          .crossJoin(broadcast(totals))
          .groupBy(col("doc_id"))
          .agg(QueryDefs.q6(sum(nll.cast("decimal(18,6)") * col("c")).cast("double")
            / sum(col("c")))
            .as("avg_nll"))
          .withColumn("hb", floor(col("avg_nll") * 100).cast("long")))
        val hist = doc.groupBy("hb").agg(count(lit(1)).as("c"))
        val cum = hist.withColumn("cum",
          sum("c").over(org.apache.spark.sql.expressions.Window.orderBy("hb")))
        val n = doc.agg(count(lit(1)).as("n"))
        val thr = cum.crossJoin(broadcast(n))
          .agg(
            min(when(col("cum") >= expr("(n + 2) div 3"), col("hb"))).as("b1"),
            min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("hb"))).as("b2"))
        doc.crossJoin(broadcast(thr))
          .withColumn("bucket",
            when(col("hb") <= col("b1"), lit("head"))
              .when(col("hb") <= col("b2"), lit("middle"))
              .otherwise(lit("tail")))
          .withColumn("kept",
            (pmod(HashFunctions.md5prefix64(
              concat(lit("ccnet:"), col("doc_id").cast("string"))), lit(1000000L))
              < when(col("hb") <= col("b1"), lit(1000000L))
                  .when(col("hb") <= col("b2"), lit(500000L))
                  .otherwise(lit(100000L))).cast("int"))
          .select("doc_id", "avg_nll", "bucket", "kept")
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
        tot AS (SELECT COUNT(*) AS n_total FROM tok),
        nll AS (
          SELECT doc_id,
            floor(CAST(SUM(CAST(
                floor(-ln(CAST(cnt AS DOUBLE) / n_total) * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_nll
          FROM tok JOIN freq USING (w) CROSS JOIN tot
          GROUP BY doc_id),
        hb AS (SELECT doc_id, avg_nll, CAST(floor(avg_nll * 100) AS BIGINT) AS hb FROM nll),
        hist AS (SELECT hb, COUNT(*) AS c FROM hb GROUP BY hb),
        cum AS (SELECT hb, SUM(c) OVER (ORDER BY hb) AS cum FROM hist),
        n AS (SELECT COUNT(*) AS n FROM hb),
        thr AS (SELECT
            min(CASE WHEN cum >= (n + 2) // 3 THEN hb END) AS b1,
            min(CASE WHEN cum >= (2 * n + 2) // 3 THEN hb END) AS b2
          FROM cum CROSS JOIN n)
        SELECT doc_id, avg_nll,
          CASE WHEN hb <= b1 THEN 'head' WHEN hb <= b2 THEN 'middle' ELSE 'tail' END AS bucket,
          CAST((('0x' || substr(md5('ccnet:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
            < CASE WHEN hb <= b1 THEN 1000000 WHEN hb <= b2 THEN 500000 ELSE 100000 END) AS INT) AS kept
        FROM hb CROSS JOIN thr ORDER BY doc_id""")),

    // H13: sliding-window chunking — the context-window step that
    // turns curated documents into fixed-size training/RAG chunks:
    // 32-token windows at stride 24 (8-token overlap), short docs
    // yield one whole-doc chunk, each chunk carries its 60-bit
    // content hash (the key downstream span/exact dedup operates
    // on — F8's chunk-hash input is exactly this shape). Entirely
    // row-local: tokens materialized ONCE per doc (the round-1
    // lesson — an inlined tokenizer re-runs per window), window
    // count is closed-form integer math, the explode emits
    // chunk-count rows with no shuffle anywhere before the
    // presentation sort — at 100 TB this is a pure scan-and-emit
    // pass, parallel in file splits.
    QueryDef("h13_window_chunks",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
          .withColumn("n_chunks",
            (greatest(ceil((size(col("ws")) - 32).cast("double") / 24.0), lit(0L))
              + lit(1L)).cast("long"))
          .select(col("doc_id"), col("ws"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("ci"))
          .withColumn("chunk", slice(col("ws"), (col("ci") * 24 + 1).cast("int"), lit(32)))
          .select(col("doc_id"), col("ci").cast("int").as("chunk_idx"),
            size(col("chunk")).cast("long").as("n_tokens"),
            HashFunctions.md5prefix64(array_join(col("chunk"), " ")).as("chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH words AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS ws
          FROM documents),
        d AS (
          SELECT doc_id, ws,
            CAST(greatest(ceil((len(ws) - 32) / 24.0), 0) + 1 AS BIGINT) AS n_chunks
          FROM words),
        c AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS ci FROM d)
        SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
          CAST(len(ws[CAST(ci * 24 + 1 AS INT) : CAST(ci * 24 + 32 AS INT)]) AS BIGINT) AS n_tokens,
          ('0x' || substr(md5(array_to_string(
            ws[CAST(ci * 24 + 1 AS INT) : CAST(ci * 24 + 32 AS INT)], ' ')), 1, 15))::BIGINT AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx""")),

    // H14: hashed linear quality classifier — the fasttext-shaped
    // scorer curation stacks run over every document (CCNet/GPT-3
    // style quality filtering): tokens hash into 64 feature buckets
    // (the hashing trick, so vocabulary is unbounded and the model is
    // one fixed-size weight vector), doc score = Σ weight[bucket(w)].
    // Weights here are a deterministic md5-derived stand-in for the
    // trained vector — swapping in trained weights changes 64 literals,
    // not the plan. Scale shape: one map-side-combined aggregation
    // over the shared token frame; the weight vector is a 64-entry
    // literal in the codegen'd expression (no join, no lookup table
    // shuffle). Portability: bucket ids come from the md5-prefix hash
    // (bit-identical in both engines), weights are integer literals,
    // the score is an exact BIGINT sum, and the per-token mean is one
    // IEEE divide on integers — nothing to quantize.
    QueryDef("h14_quality_classifier",
      (s, dir) => {
        val weights = PipelineQueries.classifierWeights
        // K24 kernel: one compiled pass per doc, no explode/agg at
        // all (the groupBy-over-shared-token-frame spelling it
        // replaces is what the oracle still mirrors — outputs are
        // identical, ClassifierKernelSpec). Token-less docs are
        // dropped to preserve the exploded spelling's group
        // semantics (they emit no group there; here they'd divide
        // by zero under ANSI).
        Tables.documents(s, dir)
          // r16: sort-then-project — see h17's note (the post-sort
          // filter preserves the sorted order)
          .select("doc_id", "text").orderBy("doc_id")
          .withColumn("__cs",
            graft.functions.HashFunctions.classifierScore(col("text"), weights))
          .select(col("doc_id"), col("__cs.n_tokens").as("n_tokens"),
            col("__cs.score").as("score"))
          .filter(col("n_tokens") > 0)
          .withColumn("label", col("score") > 0)
          .withColumn("score_per_tok",
            col("score").cast("double") / col("n_tokens"))
      },
      Some {
        val wlist = PipelineQueries.classifierWeights.mkString("[", ", ", "]")
        s"""WITH tok AS (
            SELECT doc_id, unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'), w -> w != '')) AS w
            FROM documents),
          b AS (SELECT doc_id,
              ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bkt
            FROM tok),
          sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
              CAST(SUM(($wlist)[CAST(bkt + 1 AS INT)]) AS BIGINT) AS score
            FROM b GROUP BY doc_id)
          SELECT doc_id, n_tokens, score, score > 0 AS label,
            CAST(score AS DOUBLE) / n_tokens AS score_per_tok
          FROM sc ORDER BY doc_id"""
      }),

    // P20: quality-classifier TRAINING — closes h14's "weights are a
    // stand-in for a trained vector" caveat with an actual fit (the
    // BpeTrainer precedent applied to the classifier): Naive-Bayes
    // log-odds over the same 64 hashed buckets, positives = the
    // curated target sources (p13's set), add-1 smoothed, quantized
    // to integer micros (the DSIR lam treatment — portable despite
    // ln). One corpus explode + one (bucket) aggregation (64 rows
    // out) + broadcast totals; the corpus never shuffles on anything
    // wider than the bucket id.
    QueryDef("p20_train_classifier",
      (s, dir) => graft.operators.QualityClassifier.trainWeights(
          Tables.documents(s, dir), "text",
          col("source").isin("src18", "src6", "src7"), 64)
        .orderBy("b"),
      Some("""WITH tok AS (
          SELECT (source IN ('src18', 'src6', 'src7')) AS t,
            unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        bk AS (SELECT t, ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b FROM tok),
        counts AS (SELECT b,
            CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
            CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_rest
          FROM bk GROUP BY b),
        fullb AS (
          SELECT r.b, COALESCE(c.n_target, 0) AS n_target,
            COALESCE(c.n_rest, 0) AS n_rest
          FROM (SELECT unnest(range(0, 64)) AS b) r
          LEFT JOIN counts c USING (b)),
        tot AS (SELECT CAST(SUM(n_target) AS BIGINT) AS tt,
            CAST(SUM(n_rest) AS BIGINT) AS tr FROM fullb)
        SELECT b, n_target, n_rest,
          CAST(floor((ln(CAST(n_target + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
            - ln(CAST(n_rest + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)))
            * 1000000.0 + 0.5) AS BIGINT) AS weight_u
        FROM fullb CROSS JOIN tot ORDER BY b""")),

    // P20b: TRAINED classifier applied through the SAME K24 compiled
    // kernel h14 serves with — training swaps 64 literals, not the
    // plan (the g7b trained-codebook contract: the 64-row weight
    // table is driver-collected by design). The oracle replays
    // train→apply END-TO-END in SQL, so this green entry proves the
    // full loop is bit-reproducible across engines.
    QueryDef("p20b_apply_trained_classifier",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val w = graft.operators.QualityClassifier.collectWeights(
          graft.operators.QualityClassifier.trainWeights(
            docs, "text", col("source").isin("src18", "src6", "src7"), 64))
        graft.operators.QualityClassifier.applyWeights(docs, "doc_id", "text", w)
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, (source IN ('src18', 'src6', 'src7')) AS t,
            unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        bk AS (SELECT doc_id, t,
            ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b FROM tok),
        counts AS (SELECT b,
            CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
            CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_rest
          FROM bk GROUP BY b),
        fullb AS (
          SELECT r.b, COALESCE(c.n_target, 0) AS n_target,
            COALESCE(c.n_rest, 0) AS n_rest
          FROM (SELECT unnest(range(0, 64)) AS b) r
          LEFT JOIN counts c USING (b)),
        tot AS (SELECT CAST(SUM(n_target) AS BIGINT) AS tt,
            CAST(SUM(n_rest) AS BIGINT) AS tr FROM fullb)
        , lam AS (
          SELECT b,
            CAST(floor((ln(CAST(n_target + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
              - ln(CAST(n_rest + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)))
              * 1000000.0 + 0.5) AS BIGINT) AS weight_u
          FROM fullb CROSS JOIN tot)
        SELECT doc_id, COUNT(*) AS n_tokens,
          CAST(SUM(weight_u) AS BIGINT) AS score,
          CAST(SUM(weight_u) AS BIGINT) > 0 AS label
        FROM bk JOIN lam USING (b)
        GROUP BY doc_id ORDER BY doc_id""")),

    // P28: classifier OPERATING-THRESHOLD report — the g8/i5d/h20c
    // instrument treatment applied to the trained quality classifier
    // (the one trained model that still lacked an operating curve):
    // train on a deterministic 80 % hash split, score the HELD-OUT
    // 20 %, and for each score decile threshold report the confusion
    // counts and integer-ppm precision/recall against the source
    // labels — the curve a pipeline owner reads to pick the keep
    // threshold, on data the model never saw. Everything is exact
    // integer arithmetic (scores are micro-unit BIGINTs by
    // construction; thresholds are integer-rank deciles over GRID
    // EDGES; ppm is cross-multiplication) — zero float in the
    // verdict path beyond the shared-IEEE cell quantization.
    // Scale: scores quantize to a 100k-micro-unit grid (p14's
    // bounded-histogram treatment) BEFORE the cumulative window, so
    // the global rank sum runs over a frame bounded by the SCORE
    // RANGE / step (∝ max doc length), never distinct-score
    // cardinality (∝ corpus size — micro-unit sums are near-unique,
    // so the r13 distinct frame grew with N). Thresholds land on
    // grid edges — floor(score/step)·step, reported with grid_step —
    // and the integer-rank semantics are unchanged: smallest edge
    // whose cumulative held-out count reaches ceil(q·n/100).
    QueryDef("p28_classifier_operating_report",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // r16: spread — training tokenization and held-out scoring
        // otherwise run single-task off the one-file scan (par 1.8)
        val docs = graft.operators.ScaleOps.spread(Tables.documents(s, dir))
        val target = col("source").isin("src18", "src6", "src7")
        val isTrain = pmod(HashFunctions.md5prefix64(
          concat(lit("p28:"), col("doc_id").cast("string"))), lit(10L)) < 8
        val w = graft.operators.QualityClassifier.collectWeights(
          graft.operators.QualityClassifier.trainWeights(
            docs.filter(isTrain), "text", target, 64))
        val held = graft.operators.QualityClassifier
          .applyWeights(docs.filter(!isTrain), "doc_id", "text", w)
          .join(docs.select(col("doc_id"), target.as("t")), "doc_id")
          .select("doc_id", "score", "t")
        // decile thresholds via integer ranks over the GRID-CELL
        // frame: quantize scores to 100k-micro-unit cells first (the
        // shared-IEEE floor(double) both engines compute bit-equal),
        // then thr(q) = smallest grid EDGE (cell·step) whose
        // cumulative count reaches ceil(q·n/100) — the window input
        // is bounded by score range / step, never by corpus size
        val step = 100000L
        // r17: ONE corpus pass. The held-out scoring chain (tokenize +
        // score — the expensive part) used to execute three times:
        // once for the grid, once for n, once for the ×9
        // threshold-expanded confusion counts. Every downstream number
        // is derivable from the (cell, t) grid: n = Σc, and since each
        // threshold is a cell EDGE, score >= thr ⟺ cell >= thr/step
        // exactly (floor monotonicity on integer edges), so the
        // confusion counts aggregate grid cells, not corpus rows — the
        // ×9 expansion now multiplies a score-range-bounded frame.
        // persisted: three consumers (thr's cumulative grid, n, the
        // confusion counts) would each re-execute the scoring chain
        // otherwise (column pruning specializes each branch's copy and
        // defeats exchange reuse); the grid is score-range/step-bounded
        // — never corpus-sized
        val dist2 = graft.operators.TrackedCache.persist(held
          .withColumn("cell",
            floor(col("score").cast("double") / lit(step.toDouble)).cast("long"))
          .groupBy("cell", "t").agg(count(lit(1)).as("c")))
        val dist = dist2.groupBy("cell").agg(sum(col("c")).as("c"))
        val cum = dist.withColumn("cum",
          sum(col("c")).over(Window.orderBy("cell")))
        val n = dist.agg(sum(col("c")).as("n"))
        val qs = (10 to 90 by 10)
        val thrAggs = qs.map(q =>
          min(when(col("cum") >= expr(s"(n * $q + 99) DIV 100"),
            col("cell") * step)).as(s"__t$q"))
        val thr = cum.crossJoin(broadcast(n))
          .agg(thrAggs.head, thrAggs.tail: _*)
          .select(explode(array(qs.map(q =>
            struct(lit(q.toLong).as("q"), col(s"__t$q").as("threshold"))): _*))
            .as("qt"))
          .select(col("qt.q").as("q"), col("qt.threshold").as("threshold"))
        val hit = col("cell") * step >= col("threshold")
        val counts = dist2.crossJoin(broadcast(thr))
          .groupBy("q", "threshold")
          .agg(
            coalesce(sum(when(hit && col("t"), col("c"))), lit(0L)).as("tp"),
            coalesce(sum(when(hit && !col("t"), col("c"))), lit(0L)).as("fp"),
            coalesce(sum(when(!hit && col("t"), col("c"))), lit(0L)).as("fn"),
            coalesce(sum(when(!hit && !col("t"), col("c"))), lit(0L)).as("tn"))
        QueryDefs.sortedSmall(
          counts
            .withColumn("prec_ppm", expr(
              "CASE WHEN tp + fp > 0 THEN tp * 1000000L div (tp + fp) ELSE 0L END"))
            .withColumn("rec_ppm", expr(
              "CASE WHEN tp + fn > 0 THEN tp * 1000000L div (tp + fn) ELSE 0L END"))
            .withColumn("grid_step", lit(step)),
          col("q"))
      },
      Some("""WITH split AS (
          SELECT doc_id, text, (source IN ('src18', 'src6', 'src7')) AS t,
            (('0x' || substr(md5('p28:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 10 < 8) AS is_train
          FROM documents),
        tok AS (
          SELECT doc_id, t, is_train,
            unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM split),
        bk AS (SELECT doc_id, t, is_train,
            ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b FROM tok),
        counts AS (SELECT b,
            CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
            CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_rest
          FROM bk WHERE is_train GROUP BY b),
        fullb AS (
          SELECT r.b, COALESCE(c.n_target, 0) AS n_target,
            COALESCE(c.n_rest, 0) AS n_rest
          FROM (SELECT unnest(range(0, 64)) AS b) r
          LEFT JOIN counts c USING (b)),
        tot AS (SELECT CAST(SUM(n_target) AS BIGINT) AS tt,
            CAST(SUM(n_rest) AS BIGINT) AS tr FROM fullb),
        lam AS (
          SELECT b,
            CAST(floor((ln(CAST(n_target + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
              - ln(CAST(n_rest + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)))
              * 1000000.0 + 0.5) AS BIGINT) AS weight_u
          FROM fullb CROSS JOIN tot),
        held AS (
          SELECT doc_id, CAST(SUM(weight_u) AS BIGINT) AS score,
            any_value(t) AS t
          FROM (SELECT * FROM bk WHERE NOT is_train) h JOIN lam USING (b)
          GROUP BY doc_id),
        dist AS (SELECT CAST(floor(CAST(score AS DOUBLE) / 100000.0) AS BIGINT) AS cell,
            CAST(COUNT(*) AS BIGINT) AS c FROM held GROUP BY 1),
        cum AS (SELECT cell,
            CAST(SUM(c) OVER (ORDER BY cell) AS BIGINT) AS cum FROM dist),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM held),
        qv(q) AS (VALUES (CAST(10 AS BIGINT)), (20), (30), (40), (50),
                         (60), (70), (80), (90)),
        thr AS (
          SELECT qv.q,
            MIN(CASE WHEN cum >= (nn.n * qv.q + 99) // 100 THEN cell * 100000 END) AS threshold
          FROM cum CROSS JOIN nn CROSS JOIN qv
          GROUP BY qv.q),
        conf AS (
          SELECT thr.q, thr.threshold,
            CAST(COUNT(CASE WHEN score >= threshold AND t THEN 1 END) AS BIGINT) AS tp,
            CAST(COUNT(CASE WHEN score >= threshold AND NOT t THEN 1 END) AS BIGINT) AS fp,
            CAST(COUNT(CASE WHEN score < threshold AND t THEN 1 END) AS BIGINT) AS fn,
            CAST(COUNT(CASE WHEN score < threshold AND NOT t THEN 1 END) AS BIGINT) AS tn
          FROM held CROSS JOIN thr
          GROUP BY thr.q, thr.threshold)
        SELECT q, threshold, tp, fp, fn, tn,
          CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) ELSE 0 END AS BIGINT) AS prec_ppm,
          CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) ELSE 0 END AS BIGINT) AS rec_ppm,
          CAST(100000 AS BIGINT) AS grid_step
        FROM conf ORDER BY q""")),

    // H15: URL canonicalization dedup — the cheapest and FIRST dedup
    // pass a web-scale curation pipeline runs (RefinedWeb/CCNet dedup
    // by canonical URL before any content hashing): lowercase, strip
    // fragment, strip tracking params (utm_*), strip www. and the
    // trailing slash, then group by the canonical form. The messy URL
    // is synthesized deterministically from doc_id (h9's pattern) so
    // every canonicalization rule provably fires. Row-local regex
    // chain + ONE map-side-combined aggregation whose key is the
    // canonical string — at 100 TB this is a pure scan + one shuffle
    // of (url, id) pairs, no content bytes move. Patterns avoid
    // backreferences (Spark $1 vs DuckDB \\1 differ) and each occurs
    // at most once per URL (Spark replaces all matches, DuckDB's
    // default replaces the first — identical here by construction).
    QueryDef("h15_url_canonicalize",
      (s, dir) => {
        val id = col("doc_id")
        val messy = concat(
          lit("https://"),
          when(id % 3 === 0, "WWW.").otherwise(""),
          lit("Ex"), (id % 20).cast("string"), lit(".COM/a/b"),
          when(id % 2 === 0, "/").otherwise(""),
          when(id % 4 =!= 3, "?utm_source=x&id=").otherwise("?id="),
          (id % 50).cast("string"),
          when(id % 5 === 0, concat(lit("#sec"), (id % 7).cast("string")))
            .otherwise(""))
        val canon = Seq[(String, String)](
          ("#.*", ""), ("\\?utm_[^&]*&", "?"), ("://www\\.", "://"),
          ("/\\?", "?"), ("/$", ""))
          .foldLeft(lower(messy)) { case (c, (pat, rep)) =>
            regexp_replace(c, pat, rep)
          }
        Tables.documents(s, dir)
          .select(id.as("doc_id"), canon.as("url"))
          .groupBy("url")
          .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
          .orderBy("url")
      },
      Some("""WITH messy AS (
          SELECT doc_id, 'https://'
            || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
            || 'Ex' || CAST(doc_id % 20 AS VARCHAR) || '.COM/a/b'
            || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
            || CASE WHEN doc_id % 4 != 3 THEN '?utm_source=x&id=' ELSE '?id=' END
            || CAST(doc_id % 50 AS VARCHAR)
            || CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END
            AS u
          FROM documents),
        canon AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              lower(u), '#.*', ''), '\?utm_[^&]*&', '?'), '://www\.', '://'),
              '/\?', '?'), '/$', '') AS url
          FROM messy)
        SELECT url, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        FROM canon GROUP BY url ORDER BY url""")),

    // H16: bigram-LM negative log likelihood with add-1 smoothing —
    // h7's sequence-aware sibling (the KenLM-shaped perplexity signal
    // quality filters actually use; unigram NLL can't see scrambled
    // text). p(w2|w1) = (c12+1)/(c1+V) over MULTISET bigram counts
    // (the distinct shingle set would break LM counting), V = corpus
    // vocabulary. Scale shape: bigram rows come from the K27 one-pass
    // kernel at (doc, DISTINCT bigram, count) grain — tokenize + pair
    // + count in one compiled loop, no per-occurrence row expansion;
    // c12 / c1 are count-weighted map-side-combined aggregations (one
    // row per distinct bigram/prefix — Zipf-bounded, not corpus-
    // bounded); V is one scalar broadcast. Portability: each −ln term
    // is q6 tie-stable, the per-doc sum is exact decimal (Σ c·nll over
    // types ≡ Σ nll over occurrences, so the per-occurrence ORACLE is
    // unchanged), the final mean is q6 — the full h7 discipline.
    QueryDef("h16_bigram_nll",
      (s, dir) => {
        val big = graft.operators.TrackedCache.persist(sharedBigramCounts(s, dir))
        val c12 = big.groupBy("w1", "w2").agg(sum(col("c")).as("c12"))
        val c1 = big.groupBy("w1").agg(sum(col("c")).as("c1"))
        val voc = graft.operators.TrackedCache.persist(sharedTokenCounts(s, dir))
          .agg(countDistinct(col("w")).as("v"))
        val nll = QueryDefs.q6(
          -log((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
        // r17: the h19 model-frame treatment — assemble the add-1
        // model at bigram-TYPE grain (Zipf-bounded) so the corpus-
        // sized fact table joins ONCE on (w1, w2) instead of taking a
        // second w1-keyed shuffle for c1, and each −ln evaluates once
        // per type, not once per (doc, bigram) fact row.
        val typeNll = c12.join(c1, Seq("w1")).crossJoin(broadcast(voc))
          .select(col("w1"), col("w2"), nll.as("nll"))
        big.join(typeNll, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"),
            QueryDefs.q6((sum(col("nll").cast("decimal(18,6)") * col("c"))
              .cast("double") / sum(col("c"))))
              .as("avg_nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH words AS (
          SELECT doc_id, list_filter(
            regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
          FROM documents),
        big AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 1),
            i -> {'w1': ws[CAST(i + 1 AS INT)], 'w2': ws[CAST(i + 2 AS INT)]})) AS bg
          FROM words WHERE len(ws) >= 2),
        bg2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
        c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg2 GROUP BY w1, w2),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg2 GROUP BY w1),
        tok AS (SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\\s+'), w -> w != '')) AS w
          FROM documents),
        voc AS (SELECT COUNT(DISTINCT w) AS v FROM tok)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          ${QueryDefs.sqlQ6(
            s"CAST(SUM(CAST(${QueryDefs.sqlQ6("-ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v))")} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)")} AS avg_nll
        FROM bg2 JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN voc
        GROUP BY doc_id ORDER BY doc_id""")),

    // H19: interpolated Kneser–Ney bigram NLL — the published
    // smoothing that KenLM implements and CCNet's perplexity filter
    // runs (Kneser & Ney 1995; Chen & Goodman 1998; Heafield 2011):
    // p(w2|w1) = (c12 − D)/c1 + (D·N1+(w1·)/c1)·p_cont(w2), with
    // p_cont(w2) = N1+(·w2)/N1+(··) and absolute discount D = 0.75.
    // h16's add-1 sibling flattens probability mass onto the whole
    // vocabulary; KN backs off by CONTINUATION counts (how many
    // contexts a word completes), the distinction that made it the
    // production choice. Scale shape: the K27 one-pass kernel emits
    // (doc, DISTINCT bigram, count) — shared cache with h16, no
    // per-occurrence rows; all four count frames (c12, c1, N1+(w1·),
    // N1+(·w2)) are count-weighted map-side-combined Zipf-bounded
    // aggregations; the type total is one broadcast scalar. Probabilities are identical-order double
    // arithmetic in both engines; each −ln is q6 tie-stable, the
    // per-doc sum exact decimal, the mean q6 — h7/h16's portability
    // discipline. KneserNeySpec pins Σ_w2 p(w2|w1) = 1 per context
    // (the property that catches any mis-derived count).
    QueryDef("h19_kneser_ney_nll",
      (s, dir) => {
        val big = graft.operators.TrackedCache.persist(sharedBigramCounts(s, dir))
        val c12 = graft.operators.TrackedCache.persist(
          big.groupBy("w1", "w2").agg(sum(col("c")).as("c12")))
        val c1 = big.groupBy("w1").agg(sum(col("c")).as("c1"))
        val n1pFollow = c12.groupBy("w1").agg(count(lit(1)).as("n1p"))
        val nCont = c12.groupBy("w2").agg(count(lit(1)).as("nc"))
        val nTypes = c12.agg(count(lit(1)).as("nt"))
        val p = (col("c12").cast("double") - 0.75) / col("c1") +
          (lit(0.75) * col("n1p") / col("c1")) *
            (col("nc").cast("double") / col("nt"))
        // assemble the model at bigram-TYPE level (all four count
        // frames are Zipf-bounded — vocab² at worst, ~1 row per
        // distinct observed bigram) so the corpus-sized fact table
        // joins ONCE and each −ln evaluates once per type, not once
        // per occurrence. At 100 TB this is the difference between
        // one fact-side shuffle and four.
        val typeNll = c12.join(c1, Seq("w1")).join(n1pFollow, Seq("w1"))
          .join(nCont, Seq("w2")).crossJoin(broadcast(nTypes))
          .select(col("w1"), col("w2"), QueryDefs.q6(-log(p)).as("nll"))
        big.join(typeNll, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"),
            QueryDefs.q6(sum(col("nll").cast("decimal(18,6)") * col("c"))
              .cast("double") / sum(col("c")))
              .as("avg_nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH words AS (
          SELECT doc_id, list_filter(
            regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
          FROM documents),
        big AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 1),
            i -> {'w1': ws[CAST(i + 1 AS INT)], 'w2': ws[CAST(i + 2 AS INT)]})) AS bg
          FROM words WHERE len(ws) >= 2),
        bg2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
        c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg2 GROUP BY w1, w2),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg2 GROUP BY w1),
        n1p AS (SELECT w1, COUNT(*) AS n1p FROM c12 GROUP BY w1),
        nc AS (SELECT w2, COUNT(*) AS nc FROM c12 GROUP BY w2),
        nt AS (SELECT COUNT(*) AS nt FROM c12),
        probs AS (SELECT w1, w2,
            ${QueryDefs.sqlQ6(
              "-ln((CAST(c12 AS DOUBLE) - 0.75) / c1 + (0.75 * CAST(n1p AS DOUBLE) / c1) * (CAST(nc AS DOUBLE) / nt))")} AS nll
          FROM c12 JOIN c1 USING (w1) JOIN n1p USING (w1)
            JOIN nc USING (w2) CROSS JOIN nt)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          ${QueryDefs.sqlQ6(
            "CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)")} AS avg_nll
        FROM bg2 JOIN probs USING (w1, w2)
        GROUP BY doc_id ORDER BY doc_id""")),

    // H17: the PUBLISHED composite quality-rule battery — Gopher
    // Table A1 (Rae et al. 2021) + C4 page rules (Raffel et al.
    // 2020) as one per-doc gate with a first-failing-rule verdict:
    // the rule set a curation team cites as "Gopher-filtered". The
    // individual signals exist across h2/h6/h10/h16; this is the
    // cited COMPOSITE. The synthetic corpus is punctuation-free word
    // salad, so the literal battery docs (ids ≥ 900000, one golden
    // pass + one engineered first-fail per rule) are unioned
    // in-query — every rule provably fires at every SF. All verdicts
    // are integer cross-multiplications (no float): bit-exact by
    // construction. Row-local single-scan work; streaming-safe.
    QueryDef("h17_gopher_rules",
      (s, dir) => {
        import s.implicits._
        val battery = graft.operators.QualityRules.BatteryDocs
          .toDF("doc_id", "text")
        val corpus = Tables.documents(s, dir).select("doc_id", "text")
          .unionByName(battery)
        val outCols =
          Seq("doc_id", "n_words", "sum_wchars", "n_lines", "n_bullet_lines",
            "n_ellipsis_lines", "n_hash_chars", "n_ellipsis", "n_alpha_words",
            "n_req_stops", "n_sentences") ++
          graft.operators.QualityRules.RuleOrder.map(_._1) ++
          Seq("gopher_pass", "c4_pass", "pass", "first_fail")
        // r16 (guide §2.4 accidental double work under a global sort):
        // sort FIRST, project the HOF battery AFTER — a global orderBy
        // range-samples its child and then shuffles it, executing the
        // child TWICE; with the sort below, the double-executed part
        // is the bare scan and the battery evaluates once, in the
        // range exchange's parallel partitions (which also replaces
        // the r16 spread this query briefly carried). Identical rows,
        // identical total order (doc_id is the sort key either way).
        graft.operators.QualityRules.withRuleColumns(
            corpus.orderBy("doc_id"), "text")
          .select(outCols.map(col): _*)
      },
      Some(s"""WITH $corpusBatteryCte,
        $gopherRuleCtes
        SELECT doc_id, n_words, sum_wchars, n_lines, n_bullet_lines,
          n_ellipsis_lines, n_hash_chars, n_ellipsis, n_alpha_words,
          n_req_stops, n_sentences,
          r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
          r_ellipsis_lines, r_alpha_words, r_stopwords, r_no_brace,
          r_no_lorem, r_min_sentences,
          gopher_pass, c4_pass, pass, first_fail
        FROM gvp ORDER BY doc_id""")),

    // H18: Gopher Table A1's REPETITION filters — the other half of
    // the published battery H17 started: duplicate line/paragraph
    // fractions (count + char mass), top-{2,3,4}-gram char fraction,
    // duplicate-{5..10}-gram char fraction, 13 rules with the
    // published thresholds as integer cross-multiplications and a
    // first-failing-rule verdict. Corpus ∪ an 8-doc literal battery
    // (ids ≥ 910000) exercising every REACHABLE first-fail (see
    // QualityRules.RepBatteryDocs for why dup-para-char and
    // dup-{6..10}-gram can never fire first). Row-local single-scan;
    // counting is O(words²) codegen'd HOFs — right for page-sized
    // docs, kernel-swappable for long-doc corpora.
    QueryDef("h18_gopher_repetition",
      (s, dir) => {
        import s.implicits._
        val battery = graft.operators.QualityRules.RepBatteryDocs
          .toDF("doc_id", "text")
        val corpus = Tables.documents(s, dir).select("doc_id", "text")
          .unionByName(battery)
        val outCols = Seq("doc_id", "tchars", "n_lines", "n_paras",
          "dup_lines", "dup_paras", "line_chars", "para_chars",
          "dup_line_chars", "dup_para_chars",
          "top2_chars", "top3_chars", "top4_chars",
          "dup5_chars", "dup6_chars", "dup7_chars", "dup8_chars",
          "dup9_chars", "dup10_chars") ++
          graft.operators.QualityRules.RepRuleOrder.map(_._1) ++
          Seq("rep_pass", "rep_first_fail")
        // r16: sort-then-project (h17's treatment — see its note): the
        // O(words²) repetition HOFs evaluate once, after the range
        // exchange, instead of twice around it
        graft.operators.QualityRules.withRepetitionColumns(
            corpus.orderBy("doc_id"), "text")
          .select(outCols.map(col): _*)
      },
      Some {
        def sl(l: String) =
          s"coalesce(list_aggregate(list_transform($l, x -> length(x)), 'sum'), 0)"
        def grams(n: Int) =
          s"""list_transform(range(1, greatest(len(ws) - ${n - 1}, 1) + 1),
              i -> array_to_string(ws[i:i+${n - 1}], ' '))"""
        val gramCols = (2 to 10).map(n => s"${grams(n)} AS g$n").mkString(",\n          ")
        val topCols = (2 to 4).map { n =>
          s"""CASE WHEN len(ws) >= $n THEN CAST(coalesce(list_max(
              list_transform(list_distinct(g$n),
                g -> len(list_filter(g$n, x -> x = g)) * length(g))), 0) AS BIGINT)
            ELSE 0 END AS top${n}_chars"""
        }.mkString(",\n          ")
        val dupCols = (5 to 10).map { n =>
          s"""CASE WHEN len(ws) >= $n THEN CAST(${sl(s"g$n")} -
              ${sl(s"list_filter(g$n, g -> len(list_filter(g$n, x -> x = g)) = 1)")} AS BIGINT)
            ELSE 0 END AS dup${n}_chars"""
        }.mkString(",\n          ")
        val rules = graft.operators.QualityRules.RepRuleOrder
        val boolCols = Seq(
          "100 * dup_lines <= 30 * n_lines AS rr_dup_line_frac",
          "100 * dup_paras <= 30 * n_paras AS rr_dup_para_frac",
          "100 * dup_line_chars <= 20 * line_chars AS rr_dup_line_char",
          "100 * dup_para_chars <= 20 * para_chars AS rr_dup_para_char",
          "100 * top2_chars <= 20 * tchars AS rr_top_2gram",
          "100 * top3_chars <= 18 * tchars AS rr_top_3gram",
          "100 * top4_chars <= 16 * tchars AS rr_top_4gram",
          "100 * dup5_chars <= 15 * tchars AS rr_dup_5gram",
          "100 * dup6_chars <= 14 * tchars AS rr_dup_6gram",
          "100 * dup7_chars <= 13 * tchars AS rr_dup_7gram",
          "100 * dup8_chars <= 12 * tchars AS rr_dup_8gram",
          "100 * dup9_chars <= 11 * tchars AS rr_dup_9gram",
          "100 * dup10_chars <= 10 * tchars AS rr_dup_10gram").mkString(",\n          ")
        val firstFail = rules.map { case (rc, name, _) =>
          s"WHEN NOT $rc THEN '$name'"
        }.mkString("CASE ", " ", " ELSE NULL END AS rep_first_fail")
        val repPass = rules.map(_._1).mkString("(", " AND ", ") AS rep_pass")
        s"""WITH repcorpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id, text FROM (VALUES ${graft.operators.QualityRules.repBatterySqlValues}) AS t(doc_id, text)),
        rf AS (
          SELECT doc_id, text,
            list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws,
            list_filter(string_split(text, chr(10)), l -> l != '') AS lns,
            list_filter(string_split(text, chr(10) || chr(10)), p -> p != '') AS prs
          FROM repcorpus),
        rg AS (SELECT *,
          $gramCols
          FROM rf),
        rsig AS (
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS tchars,
            CAST(len(lns) AS BIGINT) AS n_lines,
            CAST(len(prs) AS BIGINT) AS n_paras,
            CAST(len(lns) - len(list_distinct(lns)) AS BIGINT) AS dup_lines,
            CAST(len(prs) - len(list_distinct(prs)) AS BIGINT) AS dup_paras,
            CAST(${sl("lns")} AS BIGINT) AS line_chars,
            CAST(${sl("prs")} AS BIGINT) AS para_chars,
            CAST(${sl("lns")} - ${sl("list_distinct(lns)")} AS BIGINT) AS dup_line_chars,
            CAST(${sl("prs")} - ${sl("list_distinct(prs)")} AS BIGINT) AS dup_para_chars,
            $topCols,
            $dupCols
          FROM rg),
        rr AS (SELECT *,
          $boolCols
          FROM rsig)
        SELECT doc_id, tchars, n_lines, n_paras, dup_lines, dup_paras,
          line_chars, para_chars, dup_line_chars, dup_para_chars,
          top2_chars, top3_chars, top4_chars,
          dup5_chars, dup6_chars, dup7_chars, dup8_chars, dup9_chars, dup10_chars,
          rr_dup_line_frac, rr_dup_para_frac, rr_dup_line_char, rr_dup_para_char,
          rr_top_2gram, rr_top_3gram, rr_top_4gram,
          rr_dup_5gram, rr_dup_6gram, rr_dup_7gram, rr_dup_8gram,
          rr_dup_9gram, rr_dup_10gram,
          $repPass,
          $firstFail
        FROM rr ORDER BY doc_id"""
      }),

    // H22: token-distribution DRIFT report — per SOURCE, the
    // Jensen–Shannon divergence of its unigram distribution against
    // the whole corpus plus the most drifted token by integer ppm
    // delta: the monitoring instrument read when a new crawl lands
    // ("which source moved, and what word moved it"). Per-(slice,
    // token) JSD contributions are q6-quantized and DECIMAL-summed
    // (h7's float-oracle pattern — bit-replayable in DuckDB); rates
    // are integer ppm; the top token is a row_number total order.
    // Scale: (slice, w) distinct-grain shuffle; the JSD grid is
    // |sources| × |vocab| with slice totals broadcast.
    QueryDef("h22_token_drift_report",
      (s, dir) => QueryDefs.sortedSmall(
        graft.operators.TextOps
          .tokenDriftReport(Tables.documents(s, dir), "source"),
        col("source")),
      Some("""WITH tok AS (
          SELECT source, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), w -> w != '')) AS w
          FROM documents),
        cs AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_s
          FROM tok GROUP BY 1, 2),
        cw AS (SELECT w, CAST(SUM(c_s) AS BIGINT) AS c FROM cs GROUP BY w),
        ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s,
            CAST(COUNT(*) AS BIGINT) AS n_types
          FROM cs GROUP BY source),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cw),
        grid AS (
          SELECT ns.source, ns.n_s, ns.n_types, cw.w, cw.c,
            COALESCE(cs.c_s, 0) AS c_s, tot.n
          FROM ns CROSS JOIN cw CROSS JOIN tot
          LEFT JOIN cs ON cs.source = ns.source AND cs.w = cw.w),
        contrib AS (
          SELECT source, n_s, n_types, w,
            floor((
              CASE WHEN c_s > 0 THEN
                0.5 * (CAST(c_s AS DOUBLE) / n_s)
                  * ln((CAST(c_s AS DOUBLE) / n_s)
                    / ((CAST(c_s AS DOUBLE) / n_s + CAST(c AS DOUBLE) / n) / 2.0))
              ELSE 0.0 END
              + 0.5 * (CAST(c AS DOUBLE) / n)
                * ln((CAST(c AS DOUBLE) / n)
                  / ((CAST(c_s AS DOUBLE) / n_s + CAST(c AS DOUBLE) / n) / 2.0))
            ) * 1000000.0 + 0.5) / 1000000.0 AS j6,
            CAST(c_s * 1000000 // n_s AS BIGINT) AS s_ppm,
            CAST(c * 1000000 // n AS BIGINT) AS q_ppm
          FROM grid),
        ranked AS (
          SELECT source, w, s_ppm, q_ppm, abs(s_ppm - q_ppm) AS delta_ppm,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY abs(s_ppm - q_ppm) DESC, w ASC) AS rk
          FROM contrib),
        js AS (SELECT source, n_s, n_types,
            floor(CAST(SUM(CAST(j6 AS DECIMAL(18,6))) AS DOUBLE)
              * 1000000.0 + 0.5) / 1000000.0 AS jsd6
          FROM contrib GROUP BY 1, 2, 3)
        SELECT js.source, js.n_s AS n_tokens, js.n_types, js.jsd6,
          r.w AS top_w, r.s_ppm AS top_slice_ppm, r.q_ppm AS top_corpus_ppm,
          r.delta_ppm AS top_delta_ppm
        FROM js JOIN ranked r ON r.source = js.source AND r.rk = 1
        ORDER BY js.source""")),

    // H21: the FineWeb/DCLM LINE-LEVEL battery — the 2024 published
    // siblings of h17's Gopher/C4 rules (Penedo et al. 2024 §3.6;
    // Li et al. 2024 / RefinedWeb §G): terminal-punctuation line
    // ratio, duplicated-line char fraction at LINE grain, short-line
    // fraction, list-like-line ratio — integer cross-multiplication
    // verdicts with a first-failing-rule report, H17's exact
    // treatment. Corpus ∪ a 5-doc literal battery (ids ≥ 920000, one
    // golden pass + one engineered first-fail per rule — the
    // synthetic corpus is single-line word salad, which fails the
    // terminal-punctuation rule wholesale). Composes into P12b's
    // funnel as a third gate generation and into streaming via J15's
    // pattern (fineWebGateStream). Row-local single-scan work.
    QueryDef("h21_fineweb_rules",
      (s, dir) => {
        import s.implicits._
        val battery = graft.operators.QualityRules.FwBatteryDocs
          .toDF("doc_id", "text")
        val corpus = Tables.documents(s, dir).select("doc_id", "text")
          .unionByName(battery)
        val outCols = Seq("doc_id", "n_lines", "n_term_lines", "line_chars",
          "dup_line_chars", "n_short_lines", "n_list_lines") ++
          graft.operators.QualityRules.FwRuleOrder.map(_._1) ++
          Seq("fw_pass", "fw_first_fail")
        graft.operators.QualityRules.withFineWebColumns(corpus, "text")
          .select(outCols.map(col): _*)
          .orderBy("doc_id")
      },
      Some {
        def sl(l: String) =
          s"coalesce(list_aggregate(list_transform($l, x -> length(x)), 'sum'), 0)"
        s"""WITH fwcorpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id, text FROM (VALUES ${graft.operators.QualityRules.fwBatterySqlValues}) AS t(doc_id, text)),
        ff AS (
          SELECT doc_id,
            list_filter(string_split(text, chr(10)), l -> l != '') AS lns
          FROM fwcorpus),
        fsig AS (
          SELECT doc_id,
            CAST(len(lns) AS BIGINT) AS n_lines,
            CAST(len(list_filter(lns, l -> regexp_matches(l, '[.!?"]$$'))) AS BIGINT) AS n_term_lines,
            CAST(${sl("lns")} AS BIGINT) AS line_chars,
            CAST(${sl("lns")} - ${sl("list_distinct(lns)")} AS BIGINT) AS dup_line_chars,
            CAST(len(list_filter(lns, l -> length(l) < 30)) AS BIGINT) AS n_short_lines,
            CAST(len(list_filter(lns, l -> regexp_matches(l, '^\\s*([-*•]|[0-9]+[.)])'))) AS BIGINT) AS n_list_lines
          FROM ff),
        fr AS (SELECT *,
          100 * n_term_lines > 12 * n_lines AS fw_term_punct,
          10 * dup_line_chars < line_chars AS fw_dup_line_chars,
          100 * n_short_lines < 67 * n_lines AS fw_short_lines,
          2 * n_list_lines < n_lines AS fw_list_lines
          FROM fsig)
        SELECT doc_id, n_lines, n_term_lines, line_chars, dup_line_chars,
          n_short_lines, n_list_lines,
          fw_term_punct, fw_dup_line_chars, fw_short_lines, fw_list_lines,
          (fw_term_punct AND fw_dup_line_chars AND fw_short_lines
            AND fw_list_lines) AS fw_pass,
          CASE WHEN NOT fw_term_punct THEN 'fineweb_term_punct_lines'
               WHEN NOT fw_dup_line_chars THEN 'fineweb_dup_line_chars'
               WHEN NOT fw_short_lines THEN 'fineweb_short_lines'
               WHEN NOT fw_list_lines THEN 'dclm_list_lines'
               ELSE NULL END AS fw_first_fail
        FROM fr ORDER BY doc_id"""
      }),

    // P18: curriculum phases — order the corpus by a difficulty
    // signal (h7's unigram NLL: low = predictable/easy text) and cut
    // it into 4 equal phases (ntile), reporting the source mix per
    // phase: the table a curriculum-training run reads to see WHICH
    // sources dominate each difficulty band before scheduling them.
    // Reuses the shared token explode; the per-doc NLL is h7's exact
    // q6/decimal spelling so the ORDERING KEY is bit-identical across
    // engines, and ntile over a totally-ordered input (nll, doc_id
    // tie-break) is deterministic standard SQL in both. The global
    // ntile window is presentation-sized here; at corpus scale the
    // same phases come from 3 precomputed quantile boundaries (one
    // tiny agg + a broadcast CASE) — the signal and cuts don't change,
    // only the assignment spelling.
    QueryDef("p18_curriculum_phases",
      (s, dir) =>
        // K28 distinct-grain facts, count-weighted (h7's spelling) —
        // the shared curriculumPhaseFrame, which P26 packs by
        curriculumPhaseFrame(s, dir)
          .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
          .groupBy("phase", "source")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("phase", "source"),
      Some(s"""WITH $curriculumPhasesSql
        SELECT phase, source, COUNT(*) AS n_docs
        FROM phased JOIN documents USING (doc_id)
        GROUP BY phase, source ORDER BY phase, source""")),

    // P26: CURRICULUM-ORDERED shard emission — the P18→P25
    // composition a staged training run actually consumes: the
    // corpus packs into token-budget shards in (phase, doc_id) order
    // (P18's difficulty phases first, doc_id within), so reading
    // shards sequentially IS the curriculum schedule — no shuffle or
    // re-sort at training time. The shard writer takes the composed
    // numeric order key (phase·10¹⁵ + doc_id — same total order as
    // (phase, doc_id) while doc ids stay below 10¹⁵); the manifest
    // gains a per-shard PHASE mix next to the source mix, and the
    // result here is the READ-BACK manifest (file contents, layout
    // trusted only for shard/phase labels) while the oracle computes
    // the same manifest from the PLAN in SQL — the p25 round-trip
    // proof, now for the curriculum layout. Phases are contiguous
    // across the shard sequence (boundary shards may straddle two) —
    // spec-pinned in ShardWriterSpec along with byte-identical
    // re-writes. Scale: P18's phase frame + P4's prefix sum + one
    // doc→shard shuffle; the ntile spelling is presentation-sized
    // (see p18's note — at corpus scale the same phases come from 3
    // broadcast quantile boundaries).
    QueryDef("p26_curriculum_shards",
      (s, dir) => {
        val out = shardScratchDir(s, "p26", dir)
        // r16: spread the one-file scan feeding the signal regexes
        val withPhase = graft.operators.ScaleOps.spread(
            Tables.documents(s, dir).select("doc_id", "text", "source"))
          .join(curriculumPhaseFrame(s, dir), "doc_id")
          .withColumn("okey",
            col("phase").cast("long") * lit(1000000000000000L) + col("doc_id"))
        val planned = graft.operators.ShardWriter
          .planShards(withPhase, orderCol = "okey")
        graft.operators.ShardWriter.writeShards(planned, out,
          extraCols = Seq("phase"))
        graft.operators.ShardWriter
          .manifestFromFiles(s, out, mixCols = Seq("source", "phase"))
          .orderBy("shard")
      },
      Some(s"""WITH $curriculumPhasesSql,
        t AS (
          SELECT d.doc_id, d.source, p.phase,
            CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
            ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.text), 1, 15))::BIGINT AS doc_hash
          FROM documents d JOIN phased p USING (doc_id)),
        c AS (
          SELECT doc_id, source, phase, n_tokens, doc_hash,
            SUM(n_tokens) OVER (ORDER BY phase, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t),
        sh AS (
          SELECT doc_id, source, phase, n_tokens, doc_hash,
            CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard
          FROM c),
        mixs AS (
          SELECT shard, string_agg(source || ':' || n, ',' ORDER BY source || ':' || n) AS source_mix
          FROM (SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n
                FROM sh GROUP BY shard, source)
          GROUP BY shard),
        mixp AS (
          SELECT shard, string_agg(ph || ':' || n, ',' ORDER BY ph || ':' || n) AS phase_mix
          FROM (SELECT shard, CAST(phase AS VARCHAR) AS ph, CAST(COUNT(*) AS BIGINT) AS n
                FROM sh GROUP BY shard, phase)
          GROUP BY shard),
        m AS (
          SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
            MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
            CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
            bit_xor(doc_hash) AS content_hash
          FROM sh GROUP BY shard)
        SELECT m.shard, n_docs, min_doc_id, max_doc_id, n_tokens,
          content_hash, source_mix, phase_mix
        FROM m JOIN mixs USING (shard) JOIN mixp USING (shard)
        ORDER BY m.shard""")),

    // P19: the DATASET CARD — the per-source datasheet a corpus
    // release publishes (Gebru et al. datasheets; HF dataset cards):
    // volume (docs, chars, tokens), language spread, exact-dup rate
    // (docs − distinct texts), and the quality-gate pass count, all
    // in ONE scan. Every metric is integer-exact: counts, exact
    // distincts over md5 fingerprints, and the h14 score via the
    // row-local fold (J13's spelling — no explode, so the whole
    // datasheet is one map stage + one source-keyed aggregation).
    QueryDef("p19_dataset_card",
      (s, dir) => {
        val weights = PipelineQueries.classifierWeights
        Tables.documents(s, dir)
          .withColumn("__fp", md5(col("text")))
          .withColumn("__cs",
            graft.functions.HashFunctions.classifierScore(col("text"), weights))
          .withColumn("__nt", col("__cs.n_tokens"))
          .withColumn("__score", col("__cs.score"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("__fp")).as("n_distinct_texts"),
            (count(lit(1)) - countDistinct(col("__fp"))).as("n_exact_dups"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("__nt")).as("total_tokens"),
            count(when(col("__score") > 0, 1)).as("n_quality_pass"))
          .orderBy("source")
      },
      Some {
        val wlist = PipelineQueries.classifierWeights.mkString("[", ", ", "]")
        s"""WITH base AS (
            SELECT source, lang, n_chars, md5(text) AS fp,
              list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS ws
            FROM documents),
          scored AS (
            SELECT source, lang, n_chars, fp, len(ws) AS nt,
              CASE WHEN len(ws) = 0 THEN 0 ELSE list_reduce(
                list_transform(ws, w ->
                  ($wlist)[CAST(('0x' || substr(md5(w), 1, 15))::BIGINT % 64 + 1 AS INT)]),
                (x, y) -> x + y) END AS score
            FROM base)
          SELECT source, COUNT(*) AS n_docs,
            COUNT(DISTINCT fp) AS n_distinct_texts,
            COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups,
            COUNT(DISTINCT lang) AS n_langs,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars,
            CAST(SUM(nt) AS BIGINT) AS total_tokens,
            COUNT(CASE WHEN score > 0 THEN 1 END) AS n_quality_pass
          FROM scored GROUP BY source ORDER BY source"""
      }),

    // P17: domain-authority PageRank — the source-weighting signal a
    // web-curation pipeline computes before mixture sampling (authority
    // of the originating domain, cf. CommonCrawl host-graph ranks used
    // by quality filters). The 20 `source` domains form a deterministic
    // link graph (edge list generated from ONE Scala list into both
    // engines); 5 synchronous iterations of
    // r'(v) = base + (85·Σ_{u→v} r(u) DIV d(u)) DIV 100, ALL INTEGER
    // (ranks scaled by 1e12): integer division and order-independent
    // BIGINT sums make every iteration bit-exact across engines — no
    // float accumulation-order hazard to quantize away. Scale shape:
    // each iteration is one broadcast-join (edges are domain-count
    // sized) + one map-side-combined sum; at a billion-node host
    // graph the SAME loop shuffles on dst with AQE, the iteration
    // count stays O(10), and the doc-side join below is a broadcast
    // of the rank table — document bytes never move.
    QueryDef("p17_domain_pagerank",
      (s, dir) => {
        val n = DomainGraph.NDomains
        val base = DomainGraph.Base
        val edges = broadcast(
          s.createDataFrame(DomainGraph.edges).toDF("src", "dst", "d"))
        val nodes = s.createDataFrame((0 until n).map(Tuple1(_))).toDF("v")
        var ranks = nodes.withColumn("r", lit(DomainGraph.S0 / n))
        for (_ <- 0 until 5) {
          val contrib = ranks.join(edges, col("v") === col("src"))
            .select(col("dst"), expr("r DIV d").as("c"))
            .groupBy("dst").agg(sum(col("c")).as("cs"))
          // broadcast the per-iteration rank delta: node-count sized
          // (domains, not documents) — without the hint Spark SMJs
          // two tiny frames 5 times
          ranks = nodes.join(broadcast(contrib), col("v") === col("dst"), "left")
            .select(col("v"),
              (lit(base) + expr("(85 * coalesce(cs, CAST(0 AS BIGINT))) DIV 100")).as("r"))
        }
        val docs = Tables.documents(s, dir)
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        docs.join(broadcast(ranks.withColumn("source",
            concat(lit("src"), col("v").cast("string")))),
            Seq("source"))
          .select(col("source"), col("r").as("rank"), col("n_docs"))
          .orderBy("source")
      },
      Some {
        val n = DomainGraph.NDomains
        val edgeRows = DomainGraph.edges
          .map { case (a, b, d) => s"($a, $b, $d)" }.mkString(", ")
        val iters = (0 until 5).map { t =>
          s"""r${t + 1} AS (
              SELECT n.v AS v,
                ${DomainGraph.Base} + (85 * CAST(COALESCE(SUM(r$t.r // ed.d), 0) AS BIGINT)) // 100 AS r
              FROM nodes n
              LEFT JOIN edges ed ON ed.dst = n.v
              LEFT JOIN r$t ON r$t.v = ed.src
              GROUP BY n.v)"""
        }.mkString(",\n")
        s"""WITH nodes AS (SELECT unnest(range(0, $n)) AS v),
          edges(src, dst, d) AS (VALUES $edgeRows),
          r0 AS (SELECT v, ${DomainGraph.S0 / n} AS r FROM nodes),
          $iters,
          docs AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
          SELECT source, r5.r AS rank, n_docs
          FROM docs JOIN r5 ON source = 'src' || CAST(r5.v AS VARCHAR)
          ORDER BY source"""
      }),

    // H20: TRAINED multilingual language-ID — the model table. The
    // CCNet/C4 lang-ID stage (a trained fasttext-family classifier,
    // Wenzek et al. 2020 §3.2) replacing h3's stopword heuristic:
    // P20's Naive-Bayes recipe generalized to L=5 classes over 256
    // hashed char-TRIGRAM buckets, trained on the deterministic
    // multilingual slice synthesized per doc in its LABELED language
    // (documents.lang — the column p5/p11/p24 key on; the corpus text
    // itself is language-free salad). Weights are integer-micro NB
    // log-likelihoods (the DSIR/P20 quantization), so serving scores
    // are exact BIGINTs. Scale shape: one gram explode + ONE
    // map-side-combined (lang, bucket) agg — ≤ 1280 rows out at ANY
    // corpus size — + an L-row totals broadcast.
    QueryDef("h20_train_lang_id",
      (s, dir) => {
        val synth = graft.operators.LangClassifier.synthDocs(
          Tables.documents(s, dir))
        QueryDefs.sortedSmall(
          graft.operators.LangClassifier.trainLangWeights(
            synth.filter(pmod(col("doc_id"), lit(10)) < 7), "text", "lang"),
          col("lang"), col("b"))
      },
      Some {
        val lc = graft.operators.LangClassifier
        s"""WITH ${lc.sqlSynthCte},
          train AS (SELECT lang, text FROM synth WHERE doc_id % 10 < 7),
          ${lc.sqlTrainCtes}
          SELECT lang, b, c, weight_u FROM lam ORDER BY lang, b"""
      }),

    // H20b: the trained classifier APPLIED end-to-end — train on the
    // 70% doc_id-hash slice, classify the HELD-OUT 30% through the
    // K29 compiled kernel (one pass per doc, all 5 scores, zero
    // joins — weights are driver literals, the K24/G7b trained-model
    // contract; a model swap changes 1280 literals, not the plan).
    // Argmax is a CASE chain over exact BIGINT scores with
    // alphabetical tie preference (h3's convention), so the oracle
    // replays train→apply bit-exactly. `correct` makes the entry its
    // own accuracy instrument; the spec pins held-out accuracy ≥ the
    // h3 heuristic on the same labeled slice.
    QueryDef("h20_lang_classify",
      (s, dir) => {
        val lc = graft.operators.LangClassifier
        val synth = lc.synthDocs(Tables.documents(s, dir))
        val w = lc.collectLangWeights(lc.trainLangWeights(
          synth.filter(pmod(col("doc_id"), lit(10)) < 7), "text", "lang"))
        val hold = synth.filter(pmod(col("doc_id"), lit(10)) >= 7)
        QueryDefs.sortedSmall(
          // truth label CARRIED through the row-local projection —
          // not re-attached by a corpus-sized self-join on doc_id
          lc.classify(hold, "doc_id", "text", w, carry = Seq("lang"))
            .withColumn("correct", col("pred_lang") === col("lang"))
            .select("doc_id", "lang", "n_grams", "s_de", "s_en", "s_es",
              "s_fr", "s_zh", "pred_lang", "correct"),
          col("doc_id"))
      },
      Some {
        val lc = graft.operators.LangClassifier
        s"""WITH ${lc.sqlSynthCte},
          train AS (SELECT lang, text FROM synth WHERE doc_id % 10 < 7),
          ${lc.sqlTrainCtes},
          hold AS (SELECT * FROM synth WHERE doc_id % 10 >= 7),
          ${lc.sqlScoreCtes("hold")}
          SELECT p.doc_id, h.lang, p.n_grams, s_de, s_en, s_es, s_fr, s_zh,
            ${lc.sqlPredict()} AS pred_lang,
            (${lc.sqlPredict()}) = h.lang AS correct
          FROM piv p JOIN hold h ON p.doc_id = h.doc_id
          ORDER BY p.doc_id"""
      }),

    // H20b: language-ID CONFUSION report — the F10/G8 treatment for
    // the classifier (h20's clean slice is vocabulary-separable by
    // construction, so its 100% accuracy proves the pipeline, not
    // robustness): the held-out slice re-synthesized WITH two tiers
    // of code-switching contamination (light: 12 dominant + 4
    // next-language words; heavy: 6 dominant + 10 contaminant — the
    // true label stays the dominant tier's language), classified
    // with the SAME clean-trained model, reported as a (true,
    // predicted, tier) confusion matrix. The heavy tier is
    // contaminant-MAJORITY, so a correct char-ngram classifier lands
    // it on the contaminant language — the off-diagonal mass IS the
    // honest picture of where code-switched text goes, which a
    // pipeline owner reads before keying p5/p11 rates on
    // predictions. Integer counts — exact oracle replay of train →
    // contaminated synth → kernel scores → argmax → matrix.
    QueryDef("h20b_lang_confusion",
      (s, dir) => {
        val lc = graft.operators.LangClassifier
        val docs = Tables.documents(s, dir)
        val clean = lc.synthDocs(docs)
        val w = lc.collectLangWeights(lc.trainLangWeights(
          clean.filter(pmod(col("doc_id"), lit(10)) < 7), "text", "lang"))
        val hold = lc.synthDocsMixed(docs)
          .filter(pmod(col("doc_id"), lit(10)) >= 7)
        QueryDefs.sortedSmall(
          lc.classify(hold, "doc_id", "text", w, carry = Seq("lang"))
            .withColumn("tier", expr(lc.tierCase("doc_id")))
            .groupBy("lang", "pred_lang", "tier")
            .agg(count(lit(1)).as("n")),
          col("lang"), col("pred_lang"), col("tier"))
      },
      Some {
        val lc = graft.operators.LangClassifier
        s"""WITH ${lc.sqlSynthCte},
          train AS (SELECT lang, text FROM synth WHERE doc_id % 10 < 7),
          ${lc.sqlTrainCtes},
          ${lc.sqlSynthMixedCte},
          hold AS (SELECT * FROM mixed WHERE doc_id % 10 >= 7),
          ${lc.sqlScoreCtes("hold")},
          pred AS (
            SELECT p.doc_id, h.lang, ${lc.sqlPredict()} AS pred_lang,
              ${lc.tierCase("p.doc_id")} AS tier
            FROM piv p JOIN hold h ON p.doc_id = h.doc_id)
          SELECT lang, pred_lang, tier, CAST(COUNT(*) AS BIGINT) AS n
          FROM pred GROUP BY lang, pred_lang, tier
          ORDER BY lang, pred_lang, tier"""
      }),

    // P5b: mixture sampling keyed on PREDICTED language — the
    // composition the h20 stage exists for (CCNet order: lang-ID
    // feeds the per-language keep rates; p5/p11 key on labels, this
    // keys on the trained classifier's output over the synthetic
    // slice). Train → classify ALL synth docs through the K29 kernel
    // → P5's deterministic hash-vs-ppm keep rule on pred_lang. The
    // oracle replays train, serving, argmax and the keep decision
    // end-to-end — the whole trained-stage-feeds-mixing loop
    // bit-reproducible across engines.
    QueryDef("p5b_mixing_on_predicted",
      (s, dir) => {
        val lc = graft.operators.LangClassifier
        val docs = Tables.documents(s, dir)
        val synth = lc.synthDocs(docs)
        val w = lc.collectLangWeights(lc.trainLangWeights(
          synth.filter(pmod(col("doc_id"), lit(10)) < 7), "text", "lang"))
        // the keep rule is J18's mixingGateStream VERBATIM — the
        // batch oracle and the streaming gate provably share one
        // implementation (a second hand-spelled copy of the salt or
        // hash could silently diverge)
        // r17c: spreading the classify input was RE-TRIED after the
        // trainer memo landed (the r16 attempt predated it) and
        // measured flat-to-worse again (isolated A/B 1.232 -> 1.269 s)
        // — the exchange moves the synth text for a kernel that costs
        // less than the move, same verdict as i2. Reverted.
        QueryDefs.sortedSmall(
          graft.streaming.AdsbStream.mixingGateStream(
            lc.classify(synth, "doc_id", "text", w),
            "doc_id", "pred_lang",
            Seq("en" -> 1000000L, "de" -> 600000L, "fr" -> 500000L,
              "es" -> 400000L, "zh" -> 250000L))
            .select("doc_id", "pred_lang"),
          col("doc_id"))
      },
      Some {
        val lc = graft.operators.LangClassifier
        s"""WITH ${lc.sqlSynthCte},
          train AS (SELECT lang, text FROM synth WHERE doc_id % 10 < 7),
          ${lc.sqlTrainCtes},
          ${lc.sqlScoreCtes("synth")},
          pred AS (SELECT doc_id, ${lc.sqlPredict()} AS pred_lang FROM piv)
          SELECT doc_id, pred_lang FROM pred
          WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
            < CASE pred_lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 600000
                             WHEN 'fr' THEN 500000 WHEN 'es' THEN 400000
                             WHEN 'zh' THEN 250000 ELSE 0 END
          ORDER BY doc_id"""
      }),

    // H20c: CONFUSABLE language-ID evaluation (r11 verdict #1 —
    // h20's 100% held-out accuracy is STRUCTURAL: its clean slice is
    // vocabulary-separable by construction; this makes accuracy a
    // MEASURED operating number): the slice is re-synthesized with
    // shared loanwords at a controlled rate (trained into every
    // class — they dilute, not separate), borrowed next-language
    // function words at half that rate (genuinely adversarial mass),
    // and a short-doc tier (5 words — where a couple of non-native
    // words flip the argmax). Train on the slice's OWN 70% (noisy
    // training — the CCNet setting, Wenzek et al. 2020 §3.2),
    // classify the held-out 30%, report per-language
    // precision/recall as integer ppm at TWO overlap rates; the spec
    // pins accuracy < 100% at the high rate, monotone degradation
    // with overlap, and still > h3. Everything — both trainings,
    // both servings, the argmax, the integer-ppm division — replays
    // in ONE oracle. Scale: per rate, training shuffles ≤ 1280
    // (lang,bucket) rows and serving is the zero-join K29 kernel;
    // the report itself aggregates a 25-cell confusion matrix.
    QueryDef("h20c_lang_confusable_eval",
      (s, dir) => {
        val lc = graft.operators.LangClassifier
        val docs = Tables.documents(s, dir)
        // The two rates are INDEPENDENT train→eval branches; their
        // trainings each end in a driver collect (L·k rows), so run
        // the two training jobs concurrently from a 2-thread pool
        // (guide §2.6 overlap independent jobs — the p29 pattern).
        // Bounded await so a hung training fails the query instead of
        // wedging it.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val trained = Seq(150000, 400000).map { ppm =>
          (ppm, scala.concurrent.Future {
            val slice = lc.synthDocsConfusable(docs, ppm)
            val w = lc.collectLangWeights(lc.trainLangWeights(
              slice.filter(pmod(col("doc_id"), lit(10)) < 7), "text", "lang"))
            (slice, w)
          })
        }
        val perRate = try trained.map { case (ppm, fut) =>
          val (slice, w) = scala.concurrent.Await.result(
            fut, scala.concurrent.duration.Duration(600, "s"))
          val hold = slice.filter(pmod(col("doc_id"), lit(10)) >= 7)
          val cm = lc.classify(hold, "doc_id", "text", w, carry = Seq("lang"))
            .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
          val byTrue = cm.groupBy("lang").agg(
            sum("n").as("n_true"),
            sum(when(col("pred_lang") === col("lang"), col("n"))
              .otherwise(0L)).as("tp"))
          val byPred = cm.groupBy(col("pred_lang").as("lang"))
            .agg(sum("n").as("n_pred"))
          byTrue.join(byPred, Seq("lang"), "left").na.fill(0L, Seq("n_pred"))
            .select(lit(ppm.toLong).as("overlap_ppm"), col("lang"),
              col("n_true"), col("n_pred"), col("tp"),
              when(col("n_pred") > 0, expr("tp * 1000000 DIV n_pred"))
                .otherwise(lit(-1L)).as("precision_ppm"),
              expr("tp * 1000000 DIV n_true").as("recall_ppm"))
        } finally pool.shutdownNow()
        QueryDefs.sortedSmall(perRate.reduce(_ unionByName _),
          col("overlap_ppm"), col("lang"))
      },
      Some {
        val lc = graft.operators.LangClassifier
        def rate(prefix: String, ppm: Int): String =
          s"""${lc.sqlSynthConfCte(ppm, s"${prefix}conf")},
            ${prefix}train AS (SELECT lang, text FROM ${prefix}conf WHERE doc_id % 10 < 7),
            ${lc.sqlTrainCtesNamed(prefix, s"${prefix}train")},
            ${prefix}hold AS (SELECT * FROM ${prefix}conf WHERE doc_id % 10 >= 7),
            ${lc.sqlScoreCtesNamed(s"${prefix}hold", s"${prefix}lam", s"${prefix}piv")},
            ${prefix}cm AS (
              SELECT h.lang, ${lc.sqlPredict()} AS pred_lang,
                CAST(COUNT(*) AS BIGINT) AS n
              FROM ${prefix}piv p JOIN ${prefix}hold h ON p.doc_id = h.doc_id
              GROUP BY h.lang, pred_lang),
            ${prefix}t AS (
              SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true,
                CAST(SUM(CASE WHEN pred_lang = lang THEN n ELSE 0 END) AS BIGINT) AS tp
              FROM ${prefix}cm GROUP BY lang),
            ${prefix}p AS (
              SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
              FROM ${prefix}cm GROUP BY pred_lang),
            ${prefix}rep AS (
              SELECT CAST($ppm AS BIGINT) AS overlap_ppm, t.lang, t.n_true,
                CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred, t.tp,
                CAST(CASE WHEN COALESCE(p.n_pred, 0) > 0
                  THEN t.tp * 1000000 // p.n_pred ELSE -1 END AS BIGINT) AS precision_ppm,
                CAST(t.tp * 1000000 // t.n_true AS BIGINT) AS recall_ppm
              FROM ${prefix}t t LEFT JOIN ${prefix}p p ON t.lang = p.lang)"""
        s"""WITH ${rate("r1", 150000)},
          ${rate("r2", 400000)}
          SELECT * FROM r1rep UNION ALL SELECT * FROM r2rep
          ORDER BY overlap_ppm, lang"""
      }),

    // P29/B15: targeted DELETION with propagation proof — the
    // takedown / opt-out / right-to-be-forgotten operator. A
    // deterministic keyset (doc_id % 41, vec_id % 41, user_id % 13)
    // is deleted from four derived stores built here from the base
    // tables: the P25 token-budget shard store (suffix re-pack from
    // the first affected shard — graft.operators.Deletion
    // .deleteFromShardStore), a batch_id-partitioned J11-style band
    // index, a (batch_id, cell)-partitioned J21-style ANN store, and
    // a B1 day layout over events (all three via Deletion
    // .purgeByKeys: touched-partition discovery + staged-swap
    // rewrite, emptied partitions DROPPED). The audit row per store
    // is computed from the post-delete READ-BACK alone — row count,
    // keyset residue (must be 0), XOR content hash RECOMPUTED from
    // file contents, live partition count — plus the purge's own
    // rewritten/dropped partition counts; the oracle derives every
    // column independently from the base tables (survivor counts and
    // hashes, partitions with survivors, partitions holding both
    // deleted and surviving rows = rewritten, deleted-only = dropped,
    // and the shard re-plan via the p25 prefix-sum CTE over the
    // SURVIVING corpus — so a hash match proves the incremental
    // delete left exactly the from-scratch-surviving content, with
    // exactly the touched partitions rewritten). Scale: each purge
    // reads (key, partition) columns once to find touched partitions
    // (driver-bounded metadata), then rewrites only those leaf dirs;
    // the shard re-pack re-plans only the suffix at/after the first
    // affected shard. DeletionSpec pins untouched-partition and
    // untouched-shard byte-identity plus incremental ≡ from-scratch.
    QueryDef("p29_deletion_audit",
      (s, dir) => {
        import graft.operators.{CurrentState, Dedup, Deletion, ShardWriter}
        val scratch = shardScratchDir(s, "p29", dir)
        // r16: spread — every section's signal/band computation reads
        // this frame off the one-file scan
        val docs = graft.operators.ScaleOps.spread(
          Tables.documents(s, dir).select("doc_id", "text", "source"))
        // floor at 200 so a PREFIX of shards is provably untouched
        // (deleting doc 0 would make firstAffected = 0 and rewrite
        // everything — legal, but then the audit never demonstrates
        // the suffix-only property)
        val delDocs = docs
          .filter(col("doc_id") % 41 === 0 && col("doc_id") >= 200)
          .select("doc_id")

        def auditRow(store: String, df: DataFrame, residue: Column,
            hashC: Column, partC: Column, nRew: Long, nDrop: Long)
            : DataFrame =
          df.withColumn("__h", hashC).withColumn("__p", partC)
            .agg(count(lit(1)).as("n_rows"),
              coalesce(sum(when(residue, lit(1L)).otherwise(lit(0L))),
                lit(0L)).as("n_residue"),
              expr("bit_xor(__h)").as("content_xor"),
              countDistinct(col("__p")).as("n_parts"))
            .select(lit(store).as("store"), col("n_rows"),
              col("n_residue"), col("content_xor"), col("n_parts"),
              lit(nRew).as("n_rewritten"), lit(nDrop).as("n_dropped"))

        import graft.functions.HashFunctions.md5prefix64
        // r16 (guide §2.6 overlap independent jobs): the four stores
        // touch disjoint scratch subtrees and share no derived state,
        // so their build→purge job chains run CONCURRENTLY from a
        // 4-thread driver pool — each store's tail no longer leaves
        // the host idle while the next store waits (measured: 52
        // sequential single-task stages, wall ≈ Σ sections before).
        // Results are the same four audit rows; the final union order
        // is fixed by index, then orderBy(store) as before.
        def shardsSection(): DataFrame = {
          val shardPath = s"$scratch/shards"
          ShardWriter.writeShards(ShardWriter.planShards(docs), shardPath)
          val (shRew, shStale) =
            Deletion.deleteFromShardStore(s, shardPath, delDocs)
          auditRow("shards", s.read.parquet(shardPath),
            col("doc_id") % 41 === 0 && col("doc_id") >= 200,
            md5prefix64(concat(col("doc_id").cast("string"), lit(":"),
              col("text"))),
            col("shard").cast("long"), shRew.size.toLong, shStale.size.toLong)
        }
        def bandsSection(): DataFrame = {
          val bandPath = s"$scratch/bands"
          Dedup.minhashBandsRowLocal(docs, "doc_id", "text", 4)
            .withColumn("batch_id", pmod(col("doc_id"), lit(4L)))
            .write.mode("overwrite").partitionBy("batch_id").parquet(bandPath)
          val bandRes = Deletion.purgeByKeys(s, bandPath, Seq("batch_id"),
            "doc_id", delDocs, uniformSchema = true)
          auditRow("bands", s.read.parquet(bandPath),
            col("doc_id") % 41 === 0 && col("doc_id") >= 200,
            md5prefix64(concat(col("doc_id").cast("string"), lit(":"),
              col("band").cast("string"))),
            col("batch_id").cast("long"),
            bandRes.nRewritten, bandRes.nDropped)
        }
        def annSection(): DataFrame = {
          val emb = Tables.embeddings(s, dir)
          val annPath = s"$scratch/ann"
          emb.select(col("vec_id").as("vid"), col("embedding"),
              pmod(col("vec_id"), lit(3L)).as("batch_id"),
              pmod(col("vec_id") * lit(2654435761L), lit(16L)).as("cell"))
            .write.mode("overwrite").partitionBy("batch_id", "cell")
            .parquet(annPath)
          val delVecs = emb.filter(col("vec_id") % 41 === 0).select("vec_id")
          val annRes = Deletion.purgeByKeys(s, annPath,
            Seq("batch_id", "cell"), "vid", delVecs, uniformSchema = true)
          auditRow("ann", s.read.parquet(annPath),
            col("vid") % 41 === 0,
            md5prefix64(col("vid").cast("string")),
            col("batch_id").cast("long") * 16 + col("cell").cast("long"),
            annRes.nRewritten, annRes.nDropped)
        }
        def daySection(): DataFrame = {
          val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
          val dayPath = s"$scratch/daylayout"
          CurrentState.writePartitionedByDay(ev, "ts", "user_id", dayPath)
          val delUsers = ev.filter(col("user_id") % 13 === 0)
            .select("user_id").distinct()
          val dayRes = Deletion.purgeByKeys(s, dayPath, Seq("day"),
            "user_id", delUsers, uniformSchema = true)
          auditRow("daylayout", s.read.parquet(dayPath),
            col("user_id") % 13 === 0,
            md5prefix64(col("event_id").cast("string")),
            col("day").cast("long"), dayRes.nRewritten, dayRes.nDropped)
        }
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        val rows =
          try {
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutorService(pool)
            val fs = Seq(
              scala.concurrent.Future(shardsSection()),
              scala.concurrent.Future(bandsSection()),
              scala.concurrent.Future(annSection()),
              scala.concurrent.Future(daySection()))
            // bounded await + shutdownNow (the h20c/p29b discipline,
            // ADVICE r16): a hung store section fails the query after
            // 600 s instead of wedging it forever, and the finally's
            // shutdownNow interrupts the other three instead of
            // letting them keep writing to scratch after the failure
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(fs),
              scala.concurrent.duration.Duration(600, "s"))
          } finally pool.shutdownNow()
        rows.reduce(_ unionByName _).orderBy("store")
      },
      Some("""WITH t AS (
          SELECT doc_id, text, source,
            doc_id % 41 = 0 AND doc_id >= 200 AS del,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT AS doc_hash
          FROM documents),
        sh AS (
          SELECT doc_id, del, CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
            / 4096.0) AS BIGINT) AS shard
          FROM t),
        f AS (SELECT MIN(shard) AS fa FROM sh WHERE del),
        sh2 AS (
          SELECT doc_id, CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
            / 4096.0) AS BIGINT) AS shard
          FROM t WHERE NOT del),
        shards AS (SELECT 'shards' AS store,
          (SELECT COUNT(*) FROM t WHERE NOT del) AS n_rows,
          CAST(0 AS BIGINT) AS n_residue,
          (SELECT bit_xor(doc_hash) FROM t WHERE NOT del) AS content_xor,
          (SELECT COUNT(DISTINCT shard) FROM sh2) AS n_parts,
          (SELECT COUNT(DISTINCT shard) FROM sh2 WHERE shard >= (SELECT fa FROM f)) AS n_rewritten,
          -- stale ids = old suffix ids minus re-planned suffix ids, as a
          -- SET difference (MAX arithmetic assumed the re-planned suffix
          -- is contiguous from fa; a prefix-boundary doc over the shard
          -- budget can gap the ids and break that assumption)
          (SELECT COUNT(*) FROM (
            SELECT DISTINCT shard FROM sh WHERE shard >= (SELECT fa FROM f)
            EXCEPT
            SELECT DISTINCT shard FROM sh2 WHERE shard >= (SELECT fa FROM f)) dps) AS n_dropped),
        bp AS (
          SELECT doc_id % 4 AS part,
            SUM(CASE WHEN del THEN 1 ELSE 0 END) AS dels,
            SUM(CASE WHEN del THEN 0 ELSE 1 END) AS keeps
          FROM t GROUP BY 1),
        bands AS (SELECT 'bands' AS store,
          (SELECT 4 * COUNT(*) FROM t WHERE NOT del) AS n_rows,
          CAST(0 AS BIGINT) AS n_residue,
          (SELECT bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(band AS VARCHAR)), 1, 15))::BIGINT)
            FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
            WHERE NOT del) AS content_xor,
          (SELECT COUNT(*) FROM bp WHERE keeps > 0) AS n_parts,
          (SELECT COUNT(*) FROM bp WHERE dels > 0 AND keeps > 0) AS n_rewritten,
          (SELECT COUNT(*) FROM bp WHERE dels > 0 AND keeps = 0) AS n_dropped),
        at AS (
          SELECT vec_id, vec_id % 41 = 0 AS del,
            (vec_id % 3) * 16 + (vec_id * 2654435761) % 16 AS part
          FROM embeddings),
        ap AS (
          SELECT part, SUM(CASE WHEN del THEN 1 ELSE 0 END) AS dels,
            SUM(CASE WHEN del THEN 0 ELSE 1 END) AS keeps
          FROM at GROUP BY part),
        ann AS (SELECT 'ann' AS store,
          (SELECT COUNT(*) FROM at WHERE NOT del) AS n_rows,
          CAST(0 AS BIGINT) AS n_residue,
          (SELECT bit_xor(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT)
            FROM at WHERE NOT del) AS content_xor,
          (SELECT COUNT(*) FROM ap WHERE keeps > 0) AS n_parts,
          (SELECT COUNT(*) FROM ap WHERE dels > 0 AND keeps > 0) AS n_rewritten,
          (SELECT COUNT(*) FROM ap WHERE dels > 0 AND keeps = 0) AS n_dropped),
        et AS (
          SELECT event_id, user_id % 13 = 0 AS del,
            strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS day
          FROM events),
        ep AS (
          SELECT day, SUM(CASE WHEN del THEN 1 ELSE 0 END) AS dels,
            SUM(CASE WHEN del THEN 0 ELSE 1 END) AS keeps
          FROM et GROUP BY day),
        daylayout AS (SELECT 'daylayout' AS store,
          (SELECT COUNT(*) FROM et WHERE NOT del) AS n_rows,
          CAST(0 AS BIGINT) AS n_residue,
          (SELECT bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
            FROM et WHERE NOT del) AS content_xor,
          (SELECT COUNT(*) FROM ep WHERE keeps > 0) AS n_parts,
          (SELECT COUNT(*) FROM ep WHERE dels > 0 AND keeps > 0) AS n_rewritten,
          (SELECT COUNT(*) FROM ep WHERE dels > 0 AND keeps = 0) AS n_dropped)
        SELECT * FROM shards UNION ALL SELECT * FROM bands
        UNION ALL SELECT * FROM ann UNION ALL SELECT * FROM daylayout
        ORDER BY store""")),

    // P30: SEEDED GLOBAL SHUFFLE order for shards — the standard
    // non-curriculum pipeline shuffles examples reproducibly BEFORE
    // sharding (P25 packs in doc_id order, P26 in curriculum order;
    // a plain training run wants neither — it wants a deterministic
    // random permutation so adjacent shards don't share provenance).
    // One orderCol spelling through the UNCHANGED planShards: okey =
    // md5prefix64(seed ‖ ':' ‖ doc_id) — a keyed 60-bit hash IS the
    // seeded permutation, reproducible across engines and runs, no
    // RNG state; the prefix sum's bucketSpan widens to 2^50 so the
    // hash-valued key still yields ~1024 bounded offset buckets
    // (doc_id's dense-unit span of 64 would make one bucket per doc —
    // a corpus-sized broadcast). Result = the p25 round-trip proof on
    // the shuffled layout: Spark recomputes the manifest from the
    // read-back FILES, DuckDB from the PLAN (same window, ORDER BY
    // the same md5 key). Spec: same seed ⇒ byte-identical re-write;
    // different seed ⇒ different packing, identical totals
    // (doc/token conservation + XOR-of-content-hash invariance).
    QueryDef("p30_shuffled_shards",
      (s, dir) => {
        val out = shardScratchDir(s, "p30", dir)
        // r16: spread the one-file scan feeding the signal regexes
        val docs = graft.operators.ScaleOps.spread(
            Tables.documents(s, dir).select("doc_id", "text", "source"))
          .withColumn("okey", graft.functions.HashFunctions.md5prefix64(
            concat(lit("s42:"), col("doc_id").cast("string"))))
        val planned = graft.operators.ShardWriter.planShards(docs,
          orderCol = "okey", bucketSpan = 1L << 50)
        graft.operators.ShardWriter.writeShards(planned, out)
        graft.operators.ShardWriter.manifestFromFiles(s, out)
          .orderBy("shard")
      },
      Some("""WITH t AS (
          SELECT doc_id, source,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT AS doc_hash,
            ('0x' || substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS okey
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tokens, doc_hash,
            SUM(n_tokens) OVER (ORDER BY okey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t),
        sh AS (
          SELECT doc_id, source, n_tokens, doc_hash,
            CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard
          FROM c),
        mixs AS (
          SELECT shard, string_agg(source || ':' || n, ',' ORDER BY source || ':' || n) AS source_mix
          FROM (SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n
                FROM sh GROUP BY shard, source)
          GROUP BY shard),
        m AS (
          SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
            MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
            CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
            bit_xor(doc_hash) AS content_hash
          FROM sh GROUP BY shard)
        SELECT m.shard, n_docs, min_doc_id, max_doc_id, n_tokens,
          content_hash, source_mix
        FROM m JOIN mixs USING (shard) ORDER BY shard""")),

    // P29b: deletion by CONTENT FINGERPRINT — the takedown request's
    // real shape (P29's keyset clause, closed): the request arrives
    // as md5prefix64(text) fingerprints, resolveByFingerprint maps
    // them to EVERY doc id carrying that content (exact copies
    // included — content deletion removes all of them, where id
    // deletion would leave twins behind), and the shard-store purge
    // + audit run unchanged. Residue here is counted BY FINGERPRINT
    // over the read-back TEXT — the strictest form: any surviving
    // content copy fails the audit even under a fresh doc id. The
    // oracle derives the fingerprint set, the resolved survivor set
    // and the suffix re-plan independently from the base table.
    QueryDef("p29b_fingerprint_deletion",
      (s, dir) => {
        import graft.operators.{Deletion, ShardWriter}
        import graft.functions.HashFunctions.md5prefix64
        val scratch = shardScratchDir(s, "p29b", dir)
        // r16: spread — the plan/write/resolve signal computations all
        // read this frame off the one-file scan
        val docs = graft.operators.ScaleOps.spread(
          Tables.documents(s, dir).select("doc_id", "text", "source"))
        // the request side: fingerprints of the takedown content
        // (synthesized deterministically; >= 200 keeps an untouched
        // shard prefix, as in p29)
        val fps = docs
          .filter(col("doc_id") % 53 === 0 && col("doc_id") >= 200)
          .select(md5prefix64(col("text")).as("fp"))
        val shardPath = s"$scratch/shards"
        // r17 §2.6 overlap: the fingerprint RESOLVE reads only the
        // base docs frame — independent of the store build — so it
        // materializes concurrently with writeShards from a side
        // thread (the p29/h20c pool pattern, bounded await).
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val fResolved = Future {
          Deletion.resolveByFingerprint(docs, "doc_id", "text", fps)
            .localCheckpoint()
        }
        val auditCols = (df: org.apache.spark.sql.DataFrame) => df
          .withColumn("__h", md5prefix64(concat(col("doc_id").cast("string"),
            lit(":"), col("text"))))
          .withColumn("__fp", md5prefix64(col("text")))
          .join(broadcast(fps.withColumnRenamed("fp", "__del_fp")),
            col("__fp") === col("__del_fp"), "left")
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_rows"),
            coalesce(sum(when(col("__del_fp").isNotNull, lit(1L))
              .otherwise(lit(0L))), lit(0L)).as("n_residue"),
            expr("bit_xor(__h)").as("content_xor"),
            countDistinct(col("shard").cast("long")).as("n_parts"))
        try {
          ShardWriter.writeShards(ShardWriter.planShards(docs), shardPath)
          val resolved = Await.result(fResolved, Duration(600, "s"))
          // The suffix re-pack never touches shards BELOW the first
          // affected one (byte-identity spec-pinned in DeletionSpec),
          // so the prefix half of the read-back audit runs
          // CONCURRENTLY with the delete — over the prefix shard
          // directories listed explicitly (never a root listing,
          // which would race the suffix swaps). Partial aggregates
          // compose exactly: counts add, XOR xors, shard sets are
          // disjoint.
          val store0 = s.read.parquet(shardPath)
          val hit = store0.join(
              broadcast(resolved.toDF("__del_key").distinct()),
              col("doc_id") === col("__del_key"))
            .agg(min(col("shard").cast("long"))).head()
          val firstAffected = if (hit.isNullAt(0)) Long.MaxValue else hit.getLong(0)
          val prefixDirs = {
            val root = new org.apache.hadoop.fs.Path(shardPath)
            val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.listStatus(root).toSeq.map(_.getPath)
              .filter(p => p.getName.startsWith("shard=") &&
                p.getName.stripPrefix("shard=").toLong < firstAffected)
              .map(_.toString)
          }
          val fPrefix = Future {
            if (prefixDirs.isEmpty) None
            else Some(auditCols(s.read
                .option("basePath", shardPath).parquet(prefixDirs: _*))
              .head())
          }
          val (rew, stale) = Deletion.deleteFromShardStore(s, shardPath,
            resolved, firstAffectedHint = Some(
              if (firstAffected == Long.MaxValue) None else Some(firstAffected)))
          val prefixRow = Await.result(fPrefix, Duration(600, "s"))
          // suffix half: post-swap listing, shards >= firstAffected
          val suffix = s.read.parquet(shardPath)
            .filter(col("shard").cast("long") >= firstAffected)
          val partials = prefixRow match {
            case None => auditCols(suffix)
            case Some(p) =>
              auditCols(suffix).select(
                (col("n_rows") + p.getLong(0)).as("n_rows"),
                (col("n_residue") + p.getLong(1)).as("n_residue"),
                (coalesce(col("content_xor"), lit(0L))
                  .bitwiseXOR(p.getLong(2))).as("content_xor"),
                (col("n_parts") + p.getLong(3)).as("n_parts"))
          }
          partials.select(lit("shards_by_fp").as("store"), col("n_rows"),
            col("n_residue"), col("content_xor"), col("n_parts"),
            lit(rew.size.toLong).as("n_rewritten"),
            lit(stale.size.toLong).as("n_dropped"))
        } finally pool.shutdownNow()
      },
      Some("""WITH fps AS (
          SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
          FROM documents WHERE doc_id % 53 = 0 AND doc_id >= 200),
        t AS (
          SELECT doc_id, text, source,
            ('0x' || substr(md5(text), 1, 15))::BIGINT IN (SELECT fp FROM fps) AS del,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT AS doc_hash
          FROM documents),
        sh AS (
          SELECT doc_id, del, CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
            / 4096.0) AS BIGINT) AS shard
          FROM t),
        f AS (SELECT MIN(shard) AS fa FROM sh WHERE del),
        sh2 AS (
          SELECT doc_id, CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
            / 4096.0) AS BIGINT) AS shard
          FROM t WHERE NOT del)
        SELECT 'shards_by_fp' AS store,
          (SELECT COUNT(*) FROM t WHERE NOT del) AS n_rows,
          CAST(0 AS BIGINT) AS n_residue,
          (SELECT bit_xor(doc_hash) FROM t WHERE NOT del) AS content_xor,
          (SELECT COUNT(DISTINCT shard) FROM sh2) AS n_parts,
          (SELECT COUNT(DISTINCT shard) FROM sh2 WHERE shard >= (SELECT fa FROM f)) AS n_rewritten,
          (SELECT MAX(shard) FROM sh)
            - greatest((SELECT MAX(shard) FROM sh2), (SELECT fa FROM f) - 1) AS n_dropped""")),

    // H23: UNIGRAM-LM tokenizer TRAINING (Kudo 2018 — the
    // SentencePiece unigram model, the published alternative to
    // h12's BPE): substring-seeded candidate vocab, tie-inclusive
    // Viterbi hard-EM rounds (forward + backward DP — a piece counts
    // iff fwd + score + bwd == best, so ties need no arbitration and
    // no backtracking exists to replicate), score-pruned final vocab.
    // Integer-micro ln scores (the h15/h19 quantization), all DP
    // arithmetic integer — the oracle replays seeding, BOTH EM
    // rounds and the prune in DuckDB and must land on the identical
    // (piece, score) table. Scale: everything at distinct-word grain
    // (h12's precedent), and the Viterbi DP is ROW-LOCAL: per word,
    // scored substring slots gather into one array column and the DP
    // unrolls over ≤MaxWordLen positions as chained named columns in
    // one codegen stage — no per-position joins, no driver loop.
    QueryDef("h23_unigram_train",
      (s, dir) => graft.operators.UnigramLm
        .train(Tables.documents(s, dir), "text", vocabSize = 40)
        .orderBy(col("score_micro").desc, col("piece")),
      Some(unigramTrainSql +
        """ SELECT piece, s AS score_micro FROM vocab
         ORDER BY score_micro DESC, piece""")),

    // H23b: unigram-LM TOKENIZATION with the trained vocab — the
    // apply side: per-doc whitespace-token count, total piece count
    // and total score under per-word Viterbi segmentation, via ONE
    // composed-metric DP (64·score − 1: maximize score, then fewest
    // pieces; n = (−C) mod 64 and S = (C + n) / 64 recover both
    // exactly). The oracle re-trains via the same staged CTEs and
    // tokenizes by joining doc tokens to the per-WORD DP results —
    // segmentation cost is paid once per distinct word, the corpus
    // join is scan-bound, exactly how a production tokenizer pass
    // amortizes at 100 TB.
    QueryDef("h23b_unigram_tokenize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.UnigramLm.tokenStats(docs, "doc_id", "text",
            graft.operators.UnigramLm.train(docs, "text", vocabSize = 40))
          .orderBy("doc_id")
      },
      Some(unigramTrainSql + s""",
        arrT AS MATERIALIZED (
          SELECT sl.w, list(struct_pack(i := sl.i, j := sl.j,
            s := v.s * 64 - 1, piece := sl.piece)) AS arr
          FROM slots sl JOIN vocab v USING (piece)
          GROUP BY sl.w),
        ${unigramFwdChain("t", "arrT")},
        perword AS (
          SELECT w,
            ((-(best) % 64) + 64) % 64 AS n_pieces,
            (best + ((-(best) % 64) + 64) % 64) // 64 AS s_sum
          FROM (SELECT w, fl[CAST(length(w) + 1 AS INT)] AS best FROM tfl) pb),
        dtok AS (
          SELECT doc_id, substr(w0, 1, 12) AS w FROM (
            SELECT doc_id, unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS w0
            FROM documents) dt)
        SELECT doc_id, COUNT(*) AS n_ws_tokens,
          CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
          CAST(SUM(s_sum) AS BIGINT) AS score_micro_sum
        FROM dtok JOIN perword USING (w)
        GROUP BY doc_id ORDER BY doc_id"""))
  )

  /** Shared h23/h23b training CTEs: word freqs → substring slots →
    * seed scores → two tie-inclusive Viterbi EM rounds → pruned
    * vocab. Mirrors [[graft.operators.UnigramLm]] stage for stage
    * (MaxWordLen = 12, MaxPieceLen = 5, seedCap = 200, vocab = 40):
    * each word's scored slots gather into one LIST column and the DP
    * unrolls as chained projections (f0..f12, g12..g0) — the same
    * row-local fold the Spark side runs, no per-position joins.
    */
  private def unigramLookup(i: Int, j: Int): String =
    s"(list_filter(arr, e -> e.i = $i AND e.j = $j)[1]).s"

  private def unigramFwdChain(tag: String, src: String): String = {
    val stages = (1 to 12).map { j =>
      val terms = (math.max(0, j - 5) until j).map(i =>
        s"COALESCE(f$i + ${unigramLookup(i, j)}, -1000000000000000)")
      s"""${tag}f$j AS (SELECT *, greatest(${terms.mkString(", ")}) AS f$j
          FROM ${if (j == 1) s"${tag}f0" else s"${tag}f${j - 1}"})"""
    }.mkString(",\n        ")
    s"""${tag}f0 AS (SELECT *, CAST(0 AS BIGINT) AS f0 FROM $src),
        $stages,
        ${tag}fl AS (SELECT *, list_value(${(0 to 12).map("f" + _).mkString(", ")}) AS fl FROM ${tag}f12)"""
  }

  private def unigramBwdChain(tag: String, src: String): String = {
    val stages = (0 to 11).reverse.map { i =>
      val terms = ((i + 1) to math.min(i + 5, 12)).map(j =>
        s"COALESCE(${unigramLookup(i, j)} + g$j, -1000000000000000)")
      s"""${tag}g$i AS (SELECT *, CASE WHEN length(w) = $i THEN CAST(0 AS BIGINT)
            ELSE greatest(${terms.mkString(", ")}) END AS g$i
          FROM ${if (i == 11) s"${tag}g12" else s"${tag}g${i + 1}"})"""
    }.mkString(",\n        ")
    s"""${tag}g12 AS (SELECT *, CASE WHEN length(w) = 12 THEN CAST(0 AS BIGINT)
          ELSE CAST(-1000000000000000 AS BIGINT) END AS g12 FROM $src),
        $stages,
        ${tag}gl AS (SELECT *, list_value(${(0 to 12).map("g" + _).mkString(", ")}) AS gl FROM ${tag}g0)"""
  }

  private def unigramEmRound(r: Int): String =
    s"""arr$r AS MATERIALIZED (
          SELECT sl.w, sl.freq,
            list(struct_pack(i := sl.i, j := sl.j, s := sc.s, piece := sl.piece)) AS arr
          FROM slots sl JOIN s${r - 1} sc USING (piece)
          GROUP BY sl.w, sl.freq),
        ${unigramFwdChain(s"r$r", s"arr$r")},
        ${unigramBwdChain(s"r$r", s"r${r}fl")},
        usage$r AS (
          SELECT (e).piece AS piece, CAST(SUM(freq) AS BIGINT) AS usage
          FROM (SELECT freq, fl, gl, fl[CAST(length(w) + 1 AS INT)] AS total,
                  unnest(arr) AS e
                FROM r${r}gl) q
          WHERE fl[CAST((e).i + 1 AS INT)] + (e).s
              + gl[CAST((e).j + 1 AS INT)] = total
          GROUP BY (e).piece),
        u$r AS (
          SELECT piece, usage FROM usage$r WHERE length(piece) > 1
          UNION ALL
          SELECT c.piece, COALESCE(uu.usage, 1) AS usage
          FROM chars c LEFT JOIN (
            SELECT piece, usage FROM usage$r WHERE length(piece) = 1) uu
            USING (piece)),
        s$r AS MATERIALIZED (
          SELECT piece, CAST(floor(ln(CAST(usage AS DOUBLE)
            / CAST((SELECT SUM(usage) FROM u$r) AS DOUBLE)) * 1000000.0
            + 0.5) AS BIGINT) AS s
          FROM u$r)"""

  private lazy val unigramTrainSql: String =
    s"""WITH w0 AS (
          SELECT substr(t.w0, 1, 12) AS w FROM (
            SELECT unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS w0
            FROM documents) t),
        wfreq AS MATERIALIZED (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM w0 GROUP BY w),
        slots AS MATERIALIZED (
          SELECT w, freq, CAST(u.i AS INT) AS i, CAST(u.j AS INT) AS j,
            substr(w, CAST(u.i + 1 AS INT), CAST(u.j - u.i AS INT)) AS piece
          FROM (
            SELECT w, freq, unnest(flatten(list_transform(
              range(0, length(w)),
              i -> list_transform(range(i + 1, least(i + 5, length(w)) + 1),
                j -> {'i': i, 'j': j})))) AS u
            FROM wfreq) q),
        chars AS (SELECT DISTINCT piece FROM slots WHERE j - i = 1),
        cand AS (
          SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM slots GROUP BY piece),
        keptseed AS (
          SELECT DISTINCT piece, cnt FROM (
            (SELECT piece, cnt FROM cand ORDER BY cnt DESC, piece LIMIT 200)
            UNION ALL
            SELECT piece, cnt FROM cand WHERE length(piece) = 1) ks),
        s0 AS MATERIALIZED (
          SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE)
            / CAST((SELECT SUM(cnt) FROM keptseed) AS DOUBLE)) * 1000000.0
            + 0.5) AS BIGINT) AS s
          FROM keptseed),
        ${unigramEmRound(1)},
        ${unigramEmRound(2)},
        vocab AS (
          SELECT DISTINCT piece, s FROM (
            (SELECT piece, s FROM s2 ORDER BY s DESC, piece LIMIT 40)
            UNION ALL
            SELECT s2.piece, s2.s FROM s2 JOIN chars USING (piece)) vv)"""

  /** h14's 64 feature-bucket weights — deterministic md5-derived
    * integers in [-1000, 1000], the stand-in for a trained linear
    * model's weight vector (same seed-space pattern as the LSH
    * hyperplanes / codebooks).
    */
  private[graft] lazy val classifierWeights: Seq[Long] =
    (0 until 64).map(b =>
      graft.functions.HashUtil.md5Prefix64(s"qw,$b") % 2001L - 1000L)
}

/** p17's deterministic domain link graph, shared by the Spark loop and
  * the oracle's VALUES list: node i links to (3i+1), (7i+2), (13i+5)
  * mod N (distinct, never self — 3i+1 ≡ i (mod 20) has no solution).
  * Ranks are scaled by S0 = 1e12 so every PageRank step is integer.
  */
private[queries] object DomainGraph {
  val NDomains = 20
  val S0: Long = 1000000000000L
  /** base = (15% of S0) / N, exact: 0.15 · 1e12 / 20. */
  val Base: Long = 15L * S0 / (100L * NDomains)

  /** (src, dst, outdeg-of-src) triples. */
  lazy val edges: Seq[(Int, Int, Int)] = (0 until NDomains).flatMap { i =>
    val ts = Seq((3 * i + 1) % NDomains, (7 * i + 2) % NDomains,
      (13 * i + 5) % NDomains).distinct.filter(_ != i)
    ts.map(t => (i, t, ts.length))
  }
}
