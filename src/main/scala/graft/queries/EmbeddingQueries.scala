package graft.queries

import graft.operators.Embeddings
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** G-group similarity search + F5 embedding near-dup. The DuckDB
  * oracles reproduce the exact same arithmetic: per-element promotion
  * to double, strict left-fold summation (list_reduce ≡ Spark
  * `aggregate` with 0.0 init), IEEE sqrt/divide — so cosines are
  * bit-identical across engines.
  */
object EmbeddingQueries {

  /** DuckDB strict-left-fold dot product of two list<float> exprs. */
  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"""

  private def sqlNormSq(a: String): String =
    s"""list_reduce(list_transform($a, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)),
        (x, y) -> x + y)"""

  private def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlNormSq(a)}) * sqrt(${sqlNormSq(b)}))"

  /** The g8/g16 shared oracle replay: coarse k-means + trained PQ +
    * IVF assignment + the per-width probe/ADC/rerank chain, ending in
    * the `scored` (pre-rerank candidate pool), `topk` (served results)
    * and `bf` (brute-force truth) CTEs both reports read.
    */
  private def g8OracleCtes: String = {

        def l2(a: String, b: String): String =
          s"""list_reduce(list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y)"""
        // trained PQ per subvector m (g7c's replay, k=16 codewords)
        def pqTrainCtes(m: Int): String = {
          val lo = m * 16 + 1
          val hi = m * 16 + 16
          s"""sub$m AS (SELECT vec_id, embedding[$lo:$hi] AS sub FROM embeddings),
          c0_$m AS (SELECT vec_id AS cluster, list_transform(sub, x -> CAST(x AS DOUBLE)) AS cv
                    FROM sub$m WHERE vec_id < 16),
          s1_$m AS (SELECT e.vec_id, e.sub, c.cluster, ${l2("e.sub", "c.cv")} AS d
                    FROM sub$m e CROSS JOIN c0_$m c),
          a1_$m AS (SELECT vec_id, sub, cluster FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                      FROM s1_$m) t
                    WHERE rn = 1),
          x1_$m AS (SELECT cluster, unnest(list_transform(range(0, len(sub)),
                      i -> {'dim': i, 'x': CAST(sub[CAST(i + 1 AS INT)] AS DOUBLE)})) AS u
                    FROM a1_$m),
          u1_$m AS (SELECT cluster, CAST(u.dim AS INT) AS dim,
                      CAST(SUM(CAST(u.x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mx
                    FROM x1_$m GROUP BY 1, 2),
          c1_$m AS (SELECT cluster, list(mx ORDER BY dim) AS cv FROM u1_$m GROUP BY cluster),
          cb$m AS (SELECT row_number() OVER (ORDER BY cluster) - 1 AS j, cv FROM c1_$m),
          encs$m AS (SELECT e.vec_id, b.j, ${l2("e.sub", "b.cv")} AS d
                     FROM sub$m e CROSS JOIN cb$m b),
          enc$m AS (SELECT vec_id, j AS code$m FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
                      FROM encs$m) t
                    WHERE rn = 1)"""
        }
        val adist = (0 until 4).map(m =>
          l2(s"qv.qvec[${m * 16 + 1}:${m * 16 + 16}]", s"b$m.cv")).mkString(" + ")
        val cbJoins = (0 until 4).map(m => s"JOIN cb$m b$m ON b$m.j = c.code$m").mkString(" ")
        s"""c0 AS (
            SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
            FROM embeddings WHERE vec_id < 8),
          s1 AS (SELECT e.vec_id, e.embedding, c.cluster, ${l2("e.embedding", "c.cv")} AS d
                 FROM embeddings e CROSS JOIN c0 c),
          a1 AS (SELECT vec_id, embedding, cluster, d FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                   FROM s1) t
                 WHERE rn = 1),
          x1 AS (SELECT cluster, unnest(list_transform(range(0, len(embedding)),
                   i -> {'dim': i, 'x': CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)})) AS u
                 FROM a1),
          u1 AS (SELECT cluster, CAST(u.dim AS INT) AS dim,
                   CAST(SUM(CAST(u.x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mx
                 FROM x1 GROUP BY 1, 2),
          c1 AS (SELECT cluster, list(mx ORDER BY dim) AS cv FROM u1 GROUP BY cluster),
          cbn AS (SELECT CAST(row_number() OVER (ORDER BY cluster) - 1 AS INT) AS j, cv,
            sqrt(list_reduce(list_transform(cv, e -> e * e), (x, y) -> x + y)) AS nrm
            FROM c1),
          ${(0 until 4).map(pqTrainCtes).mkString(",\n")},
          assign AS (
            SELECT vec_id, j AS cell FROM (
              SELECT e.vec_id, b.j,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${sqlDot("e.embedding", "b.cv")} / b.nrm DESC, b.j) AS rn
              FROM embeddings e CROSS JOIN cbn b) t
            WHERE rn = 1),
          cidx AS (SELECT a.vec_id AS cid, a.cell, e.embedding AS cvec,
              enc0.code0, enc1.code1, enc2.code2, enc3.code3
            FROM assign a JOIN embeddings e USING (vec_id)
            JOIN enc0 USING (vec_id) JOIN enc1 USING (vec_id)
            JOIN enc2 USING (vec_id) JOIN enc3 USING (vec_id)),
          q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
          crank AS (
            SELECT q.qid, b.j AS cell,
              row_number() OVER (PARTITION BY q.qid
                ORDER BY ${sqlDot("q.qvec", "b.cv")} / b.nrm DESC, b.j) AS prn
            FROM q CROSS JOIN cbn b),
          nv(np) AS (VALUES (1), (2), (4), (8)),
          probed AS (SELECT nv.np, crank.qid, crank.cell
                     FROM crank CROSS JOIN nv WHERE crank.prn <= nv.np),
          scored AS (
            SELECT p.np, p.qid, c.cid, qv.qvec, c.cvec, $adist AS adist
            FROM cidx c JOIN probed p USING (cell)
            JOIN q qv ON qv.qid = p.qid
            $cbJoins
            WHERE p.qid != c.cid),
          cand AS (
            SELECT np, qid, cid, qvec, cvec FROM (
              SELECT *, row_number() OVER (PARTITION BY np, qid ORDER BY adist, cid) AS arank
              FROM scored) t
            WHERE arank <= 20 * np),
          cand2 AS (SELECT np, qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM cand),
          topk AS (SELECT np, qid, cid FROM (
              SELECT *, row_number() OVER (PARTITION BY np, qid ORDER BY cos DESC, cid) AS rank
              FROM cand2) t
            WHERE rank <= 10),
          bfs AS (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos
                  FROM (SELECT vec_id AS cid, embedding AS cvec FROM embeddings) c
                  CROSS JOIN q WHERE qid != cid),
          bf AS (SELECT qid, cid FROM (
              SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
              FROM bfs) t
            WHERE rank <= 10)"""
  }


  /** DuckDB mirror of VectorFunctions.hyperplane(plane, 64). */
  private def sqlHyperplane(plane: Int): String =
    s"""list_transform(range(0, 64), i ->
        CAST((('0x' || substr(md5('$plane' || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
          % 2001 - 1000) AS DOUBLE) / 1000.0)"""

  /** DuckDB mirror of VectorFunctions.lshBucket(v, planes, 64). */
  private def sqlBucket(v: String, planes: Int = 8): String =
    (0 until planes).map { j =>
      s"(CASE WHEN ${sqlDot(v, sqlHyperplane(j))} > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB mirror of VectorFunctions.codebook(8, 64)'s centroid j. */
  private def sqlCentroid(j: Int): String =
    s"""list_transform(range(0, 64), i ->
        CAST((('0x' || substr(md5('c$j' || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
          % 2001 - 1000) AS DOUBLE) / 1000.0)"""

  /** DuckDB mirror of VectorFunctions.jlSignRow(j, 64): ±1 by md5
    * parity of seed "jl{j},{i}".
    */
  private def sqlJlRow(j: Int): String =
    s"""list_transform(range(0, 64), i ->
        CASE WHEN ('0x' || substr(md5('jl$j' || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
          THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"""

  /** DuckDB mirror of VectorFunctions.jlProject(v, dOut, 64). */
  private def sqlJlProject(v: String, dOut: Int = 16): String =
    (0 until dOut).map(j => sqlDot(v, sqlJlRow(j))).mkString("[", ", ", "]")

  /** The SemDeDup oracle (p9/p9b): replays training (g5's CTEs),
    * in-cluster pairs, recursive reachability (f7's pattern) and the
    * keep-best aggregation end to end; `seedWhere` picks the k-means
    * seed rows (the only thing the demo and sized spellings differ
    * in).
    */
  private def p9OracleSql(seedWhere: String): String = {
    def l2(a: String, b: String): String =
      s"""list_reduce(list_transform(list_zip($a, $b),
          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
               (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
          (x, y) -> x + y)"""
    s"""WITH RECURSIVE c0 AS (
        SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings WHERE $seedWhere),
      s1 AS (SELECT e.vec_id, e.embedding, c.cluster, ${l2("e.embedding", "c.cv")} AS d
             FROM embeddings e CROSS JOIN c0 c),
      a1 AS (SELECT vec_id, embedding, cluster, d FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
               FROM s1) t
             WHERE rn = 1),
      x1 AS (SELECT cluster, unnest(list_transform(range(0, len(embedding)),
               i -> {'dim': i, 'x': CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)})) AS u
             FROM a1),
      u1 AS (SELECT cluster, CAST(u.dim AS INT) AS dim,
               CAST(SUM(CAST(u.x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mx
             FROM x1 GROUP BY 1, 2),
      c1 AS (SELECT cluster, list(mx ORDER BY dim) AS cv FROM u1 GROUP BY cluster),
      s2 AS (SELECT e.vec_id, e.embedding, c.cluster, ${l2("e.embedding", "c.cv")} AS d
             FROM embeddings e CROSS JOIN c1 c),
      a2 AS (SELECT vec_id, embedding, cluster, d FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
               FROM s2) t
             WHERE rn = 1),
      pairs AS (
        SELECT x.vec_id AS a, y.vec_id AS b
        FROM a2 x JOIN a2 y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.3),
      edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
      cnodes AS (SELECT DISTINCT x AS id FROM edges),
      walk(id, r) AS (
        SELECT id, id FROM cnodes
        UNION
        SELECT w.id, e.y FROM walk w JOIN edges e ON e.x = w.r),
      comp AS (SELECT id AS vec_id, min(r) AS component FROM walk GROUP BY id),
      wc AS (SELECT a2.vec_id, a2.d,
               coalesce(comp.component, a2.vec_id) AS component
             FROM a2 LEFT JOIN comp USING (vec_id)),
      best AS (SELECT component, min(d) AS best_d, COUNT(*) AS n_members
               FROM wc GROUP BY component)
    SELECT component, min(vec_id) AS keep_id, n_members,
      ${QueryDefs.sqlQ6("best_d")} AS keep_d
    FROM wc JOIN best USING (component)
    WHERE d = best_d
    GROUP BY component, n_members, best_d
    ORDER BY component"""
  }

  /** p8's semantic-contamination frame and oracle SQL (no
    * presentation sort) — shared by the per-method query and the p27
    * scoreboard in PipelineQueries (package-visible on purpose), so
    * no drift is possible between them.
    */
  private[queries] def p8Frame(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val ev = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .crossJoin(broadcast(ev))
      .withColumn("cos", graft.functions.VectorFunctions.cosineSim(col("qvec"), col("cvec")))
      .groupBy("qid")
      .agg(max(col("cos")).as("max_cos"),
        count(when(col("cos") >= 0.5, 1)).as("n_above"))
  }

  private[queries] val p8SqlBase: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id >= 10),
        scored AS (
          SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos
          FROM c CROSS JOIN q)
        SELECT qid, max(cos) AS max_cos,
          COUNT(CASE WHEN cos >= 0.5 THEN 1 END) AS n_above
        FROM scored GROUP BY qid"""

  val defs: Seq[QueryDef] = Seq(

    // G1: brute-force cosine top-5 for a fixed query set.
    QueryDef("g1_knn_bruteforce",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.knnBruteForce(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 5)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings),
        scored AS (
          SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos
          FROM c CROSS JOIN q WHERE qid != cid)
        SELECT qid, rank, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 5 ORDER BY qid, rank""")),

    // G2: LSH-bucketed ANN (8 deterministic hyperplanes) + rerank.
    QueryDef("g2_ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annLsh(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 8, 64, 3)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH b AS (
          SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
        q AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b WHERE vec_id < 3),
        c AS (SELECT vec_id AS cid, embedding AS cvec, bucket FROM b),
        scored AS (
          SELECT qid, cid, bucket, ${sqlCos("qvec", "cvec")} AS cos
          FROM c JOIN q USING (bucket) WHERE qid != cid)
        SELECT qid, rank, cid, bucket, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // G2b: multi-probe LSH ANN — each query also probes the 8 buckets
    // one sign-bit away, recovering neighbors that fell across a
    // hyperplane boundary (the single-probe recall cliff).
    QueryDef("g2b_ann_lsh_multiprobe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annLshMultiProbe(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 8, 64, 3)
          .orderBy("qid", "rank")
      },
      Some {
        val probes = ("bucket" +: (0 until 8).map(j => s"xor(bucket, ${1L << j})"))
          .mkString("[", ", ", "]")
        s"""WITH b AS (
          SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
        q0 AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b WHERE vec_id < 3),
        q AS (SELECT qid, qvec, unnest($probes) AS bucket FROM q0),
        c AS (SELECT vec_id AS cid, embedding AS cvec, bucket FROM b),
        scored AS (
          SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos
          FROM c JOIN q USING (bucket) WHERE qid != cid)
        SELECT qid, rank, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G2c: the SAME LSH path with the plane count SIZED BY THE RULE
    // (SURVEY §5: buckets ≈ N / target-bucket-size, planes = log2) —
    // for this corpus (N≈500-2000) that is 4 planes = 16 buckets of
    // ~30-125 rows, where g2's 8-plane demo constant leaves mostly
    // singleton buckets (recall 0.04) and 16+ planes degenerate to
    // empty joins. Planes is a parameter on every path, so the
    // 1B-vector deployment (~20-25 planes) is a constant change, not
    // a code change; multi-probe stays the recall knob at any size.
    QueryDef("g2c_ann_lsh_sized",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annLshMultiProbe(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 4, 64, 3)
          .orderBy("qid", "rank")
      },
      Some {
        val probes = ("bucket" +: (0 until 4).map(j => s"xor(bucket, ${1L << j})"))
          .mkString("[", ", ", "]")
        s"""WITH b AS (
          SELECT vec_id, embedding, ${sqlBucket("embedding", 4)} AS bucket FROM embeddings),
        q0 AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b WHERE vec_id < 3),
        q AS (SELECT qid, qvec, unnest($probes) AS bucket FROM q0),
        c AS (SELECT vec_id AS cid, embedding AS cvec, bucket FROM b),
        scored AS (
          SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos
          FROM c JOIN q USING (bucket) WHERE qid != cid)
        SELECT qid, rank, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G3: IVF-cell ANN — coarse quantize to 8 deterministic centroids
    // (vec_id < 8 as the codebook), probe the query's cell, rerank.
    QueryDef("g3_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annIvf(emb, emb.filter(col("vec_id") < 3),
            emb.filter(col("vec_id") < 8), "vec_id", "embedding", 3)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec_q FROM embeddings WHERE vec_id < 8),
        assign AS (
          SELECT vec_id, embedding, centroid_id AS cell FROM (
            SELECT e.vec_id, e.embedding, centroid_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${sqlCos("e.embedding", "cvec_q")} DESC, centroid_id) AS rn
            FROM embeddings e CROSS JOIN cent) t
          WHERE rn = 1),
        q AS (SELECT vec_id AS qid, embedding AS qvec, cell FROM assign WHERE vec_id < 3),
        c AS (SELECT vec_id AS cid, embedding AS cvec, cell FROM assign),
        scored AS (
          SELECT qid, cid, cell, ${sqlCos("qvec", "cvec")} AS cos
          FROM c JOIN q USING (cell) WHERE qid != cid)
        SELECT qid, rank, cid, cell, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // G3b: IVF with nprobe=2 — each query probes its two nearest
    // cells; the corpus-side index layout is unchanged.
    QueryDef("g3b_ann_ivf_multiprobe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annIvfMultiProbe(emb, emb.filter(col("vec_id") < 3),
            emb.filter(col("vec_id") < 8), "vec_id", "embedding", 3, 2)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec_q FROM embeddings WHERE vec_id < 8),
        assign AS (
          SELECT vec_id, embedding, centroid_id AS cell FROM (
            SELECT e.vec_id, e.embedding, centroid_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${sqlCos("e.embedding", "cvec_q")} DESC, centroid_id) AS rn
            FROM embeddings e CROSS JOIN cent) t
          WHERE rn = 1),
        q AS (
          SELECT vec_id AS qid, embedding AS qvec, centroid_id AS cell FROM (
            SELECT e.vec_id, e.embedding, centroid_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${sqlCos("e.embedding", "cvec_q")} DESC, centroid_id) AS prn
            FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 3) t
          WHERE prn <= 2),
        c AS (SELECT vec_id AS cid, embedding AS cvec, cell FROM assign),
        scored AS (
          SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos
          FROM c JOIN q USING (cell) WHERE qid != cid)
        SELECT qid, rank, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // G3c: IVF over a literal codebook — cell assignment is a pure
    // row-local fold (no ×k row expansion, no aggregation/sort); the
    // 100 TB-scale assignment shape. Ranking by dot/‖c‖ ≡ cosine.
    QueryDef("g3c_ann_ivf_fold",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annIvfFold(emb, emb.filter(col("vec_id") < 3),
            graft.functions.VectorFunctions.codebook(8, 64),
            "vec_id", "embedding", 3)
          .orderBy("qid", "rank")
      },
      Some {
        val cbUnion = (0 until 8)
          .map(j => s"SELECT $j AS j, ${sqlCentroid(j)} AS cv").mkString(" UNION ALL ")
        s"""WITH cb AS ($cbUnion),
          cbn AS (SELECT j, cv,
            sqrt(list_reduce(list_transform(cv, e -> e * e), (x, y) -> x + y)) AS nrm
            FROM cb),
          assign AS (
            SELECT vec_id, embedding, j AS cell FROM (
              SELECT e.vec_id, e.embedding, b.j,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${sqlDot("e.embedding", "b.cv")} / b.nrm DESC, b.j) AS rn
              FROM embeddings e CROSS JOIN cbn b) t
            WHERE rn = 1),
          q AS (SELECT vec_id AS qid, embedding AS qvec, cell FROM assign WHERE vec_id < 3),
          c AS (SELECT vec_id AS cid, embedding AS cvec, cell FROM assign),
          scored AS (
            SELECT qid, cid, cell, ${sqlCos("qvec", "cvec")} AS cos
            FROM c JOIN q USING (cell) WHERE qid != cid)
        SELECT qid, rank, cid, cell, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // F5: embedding near-dup — bucket-cogrouped pairs, top-20 by cosine.
    QueryDef("f5_dedup_embedding",
      (s, dir) => Embeddings.nearDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", 8, 64, 20),
      Some(s"""WITH b AS (
          SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
        pairs AS (
          SELECT x.vec_id AS a, y.vec_id AS b, x.bucket,
            ${sqlCos("x.embedding", "y.embedding")} AS cos
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
        SELECT a, b, bucket, cos FROM pairs
        ORDER BY cos DESC, a, b LIMIT 20""")),

    // F12: dedup-family AGREEMENT report — do the cheap text pass
    // (f3's banded MinHash candidates) and the expensive semantic
    // pass (f5's bucket-cogrouped embedding pairs at cos ≥ 0.3) find
    // the SAME pairs? The instrument a pipeline owner reads before
    // deciding whether semantic dedup adds anything over text dedup
    // on THEIR corpus (high agreement → skip the embedding bill; low
    // → the passes are complementary). Output is one row of integer
    // pair-set counts + one IEEE division (set Jaccard) — exact by
    // construction. Both pair frames are the documented corpus-scale
    // shapes (band join, bucket join); the intersection joins two
    // pair lists, not the corpus.
    QueryDef("f12_dedup_agreement",
      (s, dir) => {
        // both pair frames feed TWO consumers (their own count + the
        // intersection join) — persist so each candidate pipeline
        // (band self-join / bucket cogroup + cosine) executes ONCE
        val text = graft.operators.TrackedCache.persist(
          graft.operators.Dedup.minhashLshPairs(
            Tables.documents(s, dir), "doc_id", "text", 4).select("a", "b"))
        val b = Embeddings.withBucket(
          Tables.embeddings(s, dir), "embedding", 8, 64)
        val x = b.select(col("vec_id").as("a"), col("embedding").as("va"), col("bucket"))
        val y = b.select(col("vec_id").as("b"), col("embedding").as("vb"), col("bucket"))
        val emb = graft.operators.TrackedCache.persist(
          x.join(y, "bucket").filter(col("a") < col("b"))
            .filter(graft.functions.VectorFunctions.cosineSim(col("va"), col("vb")) >= 0.3)
            .select("a", "b"))
        val both = text.join(emb, Seq("a", "b"))
        text.agg(count(lit(1)).as("n_text"))
          .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_emb"))))
          .crossJoin(broadcast(both.agg(count(lit(1)).as("n_both"))))
          .withColumn("pair_jaccard",
            col("n_both").cast("double") /
              (col("n_text") + col("n_emb") - col("n_both")))
      },
      Some(s"""WITH ${PipelineQueries.minhashBandCtes},
        tpairs AS (
          SELECT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        eb AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
        epairs AS (
          SELECT x.vec_id AS a, y.vec_id AS b
          FROM eb x JOIN eb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.3),
        nt AS (SELECT COUNT(*) AS n_text FROM tpairs),
        ne AS (SELECT COUNT(*) AS n_emb FROM epairs),
        nb AS (SELECT COUNT(*) AS n_both FROM tpairs JOIN epairs USING (a, b))
        SELECT n_text, n_emb, n_both,
          CAST(n_both AS DOUBLE) / (n_text + n_emb - n_both) AS pair_jaccard
        FROM nt CROSS JOIN ne CROSS JOIN nb""")),

    // G5: Lloyd k-means (2 iterations, k=8, deterministic seed
    // centroids) — the clustering pass behind SemDeDup-style semantic
    // dedup, mixture balancing, and IVF codebook training. Reported
    // per cluster: size and decimal-exact mean squared distance.
    QueryDef("g5_kmeans",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.kmeansLloyd(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 2)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            QueryDefs.q6(sum(col("d").cast("decimal(27,12)")).cast("double") /
              count(lit(1))).as("mean_dist"))
          .orderBy("cluster")
      },
      Some {
        def l2(a: String, b: String): String =
          s"""list_reduce(list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y)"""
        s"""WITH c0 AS (
            SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
            FROM embeddings WHERE vec_id < 8),
          s1 AS (SELECT e.vec_id, e.embedding, c.cluster, ${l2("e.embedding", "c.cv")} AS d
                 FROM embeddings e CROSS JOIN c0 c),
          a1 AS (SELECT vec_id, embedding, cluster, d FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                   FROM s1) t
                 WHERE rn = 1),
          x1 AS (SELECT cluster, unnest(list_transform(range(0, len(embedding)),
                   i -> {'dim': i, 'x': CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)})) AS u
                 FROM a1),
          u1 AS (SELECT cluster, CAST(u.dim AS INT) AS dim,
                   CAST(SUM(CAST(u.x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mx
                 FROM x1 GROUP BY 1, 2),
          c1 AS (SELECT cluster, list(mx ORDER BY dim) AS cv FROM u1 GROUP BY cluster),
          s2 AS (SELECT e.vec_id, c.cluster, ${l2("e.embedding", "c.cv")} AS d
                 FROM embeddings e CROSS JOIN c1 c),
          a2 AS (SELECT vec_id, cluster, d FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                   FROM s2) t
                 WHERE rn = 1)
          SELECT cluster, COUNT(*) AS n_members,
            ${QueryDefs.sqlQ6("CAST(SUM(CAST(d AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)")} AS mean_dist
          FROM a2 GROUP BY cluster ORDER BY cluster"""
      }),

    // G6: product-quantization ANN (PQ + asymmetric distance, the
    // IVF-PQ building block): 4 subvectors × 16 codewords, row-local
    // encode, ADC scoring, exact rerank of the ADC top-10.
    QueryDef("g6_ann_pq_adc",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annPqAdc(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 4, 16, 16, 3, 10)
          .orderBy("qid", "rank")
      },
      Some {
        def l2(a: String, b: String): String =
          s"""list_reduce(list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y)"""
        def cw(m: Int): String =
          s"""list_transform(range(0, 16), j -> list_transform(range(0, 16), i ->
              CAST((('0x' || substr(md5('pq$m,' || CAST(j AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                % 2001 - 1000) AS DOUBLE) / 1000.0))"""
        def sub(tbl: String, m: Int): String =
          s"$tbl.embedding[${m * 16 + 1}:${m * 16 + 16}]"
        val dls = (0 until 4).map(m =>
          s"""list_transform(range(0, 16), j ->
              ${l2(sub("e", m), s"(${cw(m)})[CAST(j + 1 AS INT)]")}) AS dl$m""").mkString(",\n            ")
        val codes = (0 until 4).map(m =>
          s"CAST(list_position(dl$m, list_min(dl$m)) - 1 AS INT) AS code$m").mkString(", ")
        val adist = (0 until 4).map(m =>
          l2(sub("q", m), s"(${cw(m)})[CAST(c.code$m + 1 AS INT)]")).mkString(" + ")
        s"""WITH enc0 AS (
            SELECT e.vec_id, e.embedding,
            $dls
            FROM embeddings e),
          enc AS (SELECT vec_id, embedding, $codes FROM enc0),
          scored AS (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              q.embedding AS qvec, c.embedding AS cvec,
              $adist AS adist
            FROM enc c CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
            WHERE q.vec_id != c.vec_id),
          cand AS (
            SELECT qid, cid, qvec, cvec, adist FROM (
              SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS arank
              FROM scored) t
            WHERE arank <= 10),
          cand2 AS (SELECT qid, cid, adist, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, adist, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G7: IVF × PQ composed — the billion-vector serving path: the
    // corpus index is one row-local projection (fold-assigned coarse
    // cell + 4 PQ codes), queries probe their 2 nearest cells, ADC
    // scores only the probed cells' codes, exact rerank of the ADC
    // top-10. Same coarse codebook as g3c and the same PQ codebooks
    // as g6, so the oracle composes their (already-verified) CTEs.
    QueryDef("g7_ivf_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annIvfPq(emb, emb.filter(col("vec_id") < 3),
            graft.functions.VectorFunctions.codebook(8, 64),
            "vec_id", "embedding", 4, 16, 16, 2, 10, 3)
          .orderBy("qid", "rank")
      },
      Some {
        def l2(a: String, b: String): String =
          s"""list_reduce(list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y)"""
        def cw(m: Int): String =
          s"""list_transform(range(0, 16), j -> list_transform(range(0, 16), i ->
              CAST((('0x' || substr(md5('pq$m,' || CAST(j AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                % 2001 - 1000) AS DOUBLE) / 1000.0))"""
        def sub(tbl: String, m: Int): String =
          s"$tbl.embedding[${m * 16 + 1}:${m * 16 + 16}]"
        val dls = (0 until 4).map(m =>
          s"""list_transform(range(0, 16), j ->
              ${l2(sub("e", m), s"(${cw(m)})[CAST(j + 1 AS INT)]")}) AS dl$m""").mkString(",\n            ")
        val codes = (0 until 4).map(m =>
          s"CAST(list_position(dl$m, list_min(dl$m)) - 1 AS INT) AS code$m").mkString(", ")
        val adist = (0 until 4).map(m =>
          l2(s"q.qvec[${m * 16 + 1}:${m * 16 + 16}]",
            s"(${cw(m)})[CAST(c.code$m + 1 AS INT)]")).mkString(" + ")
        val cbUnion = (0 until 8)
          .map(j => s"SELECT $j AS j, ${sqlCentroid(j)} AS cv").mkString(" UNION ALL ")
        s"""WITH cb AS ($cbUnion),
          cbn AS (SELECT j, cv,
            sqrt(list_reduce(list_transform(cv, e -> e * e), (x, y) -> x + y)) AS nrm
            FROM cb),
          assign AS (
            SELECT vec_id, j AS cell FROM (
              SELECT e.vec_id, b.j,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${sqlDot("e.embedding", "b.cv")} / b.nrm DESC, b.j) AS rn
              FROM embeddings e CROSS JOIN cbn b) t
            WHERE rn = 1),
          enc0 AS (
            SELECT e.vec_id, e.embedding,
            $dls
            FROM embeddings e),
          enc AS (SELECT vec_id, embedding, $codes FROM enc0),
          corpus AS (
            SELECT enc.vec_id, enc.embedding, assign.cell,
              enc.code0, enc.code1, enc.code2, enc.code3
            FROM enc JOIN assign USING (vec_id)),
          qprobe AS (
            SELECT vec_id AS qid, embedding AS qvec, j AS cell FROM (
              SELECT e.vec_id, e.embedding, b.j,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${sqlDot("e.embedding", "b.cv")} / b.nrm DESC, b.j) AS rn
              FROM embeddings e CROSS JOIN cbn b WHERE e.vec_id < 3) t
            WHERE rn <= 2),
          scored AS (
            SELECT q.qid, c.vec_id AS cid, c.cell,
              q.qvec, c.embedding AS cvec,
              $adist AS adist
            FROM corpus c JOIN qprobe q USING (cell)
            WHERE q.qid != c.vec_id),
          cand AS (
            SELECT qid, cid, cell, qvec, cvec, adist FROM (
              SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS arank
              FROM scored) t
            WHERE arank <= 10),
          cand2 AS (SELECT qid, cid, cell, adist, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, cell, adist, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G7b: TRAINED codebook feeding the fold-based ANN path — closes
    // the loop between g5 (k-means training) and g3c/g7 (literal-
    // codebook serving): kmeansCentroids' k·dim doubles are collected
    // driver-side (tiny by design) and fed to the same annIvfFold
    // that served the md5-derived demo codebook. The oracle replays
    // the training arithmetic (g5's CTEs) and the fold assignment
    // (g3c's CTEs) end to end, so this green entry proves trained-
    // codebook ANN is bit-reproducible across engines too.
    QueryDef("g7b_ann_ivf_trained",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cb = Embeddings.collectCodebook(
          Embeddings.kmeansCentroids(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 2))
        Embeddings.annIvfFold(emb, emb.filter(col("vec_id") < 3),
            cb, "vec_id", "embedding", 3)
          .orderBy("qid", "rank")
      },
      Some {
        def l2(a: String, b: String): String =
          s"""list_reduce(list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y)"""
        s"""WITH c0 AS (
            SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
            FROM embeddings WHERE vec_id < 8),
          s1 AS (SELECT e.vec_id, e.embedding, c.cluster, ${l2("e.embedding", "c.cv")} AS d
                 FROM embeddings e CROSS JOIN c0 c),
          a1 AS (SELECT vec_id, embedding, cluster, d FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                   FROM s1) t
                 WHERE rn = 1),
          x1 AS (SELECT cluster, unnest(list_transform(range(0, len(embedding)),
                   i -> {'dim': i, 'x': CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)})) AS u
                 FROM a1),
          u1 AS (SELECT cluster, CAST(u.dim AS INT) AS dim,
                   CAST(SUM(CAST(u.x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mx
                 FROM x1 GROUP BY 1, 2),
          c1 AS (SELECT cluster, list(mx ORDER BY dim) AS cv FROM u1 GROUP BY cluster),
          cbn AS (SELECT CAST(row_number() OVER (ORDER BY cluster) - 1 AS INT) AS j, cv,
            sqrt(list_reduce(list_transform(cv, e -> e * e), (x, y) -> x + y)) AS nrm
            FROM c1),
          assign AS (
            SELECT vec_id, embedding, j AS cell FROM (
              SELECT e.vec_id, e.embedding, b.j,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${sqlDot("e.embedding", "b.cv")} / b.nrm DESC, b.j) AS rn
              FROM embeddings e CROSS JOIN cbn b) t
            WHERE rn = 1),
          q AS (SELECT vec_id AS qid, embedding AS qvec, cell FROM assign WHERE vec_id < 3),
          c AS (SELECT vec_id AS cid, embedding AS cvec, cell FROM assign),
          scored AS (
            SELECT qid, cid, cell, ${sqlCos("qvec", "cvec")} AS cos
            FROM c JOIN q USING (cell) WHERE qid != cid)
        SELECT qid, rank, cid, cell, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM scored) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G7c: PQ with TRAINED codebooks — the PQ half of the trained
    // seam (G7b is the coarse half): 4 per-subvector k-means runs
    // (same deterministic seeding + decimal-exact means as g5)
    // collected driver-side, then the same encode/ADC/rerank plan as
    // g6. The oracle replays all four trainings, the dense cluster→
    // code index, encoding, ADC and rerank end to end in SQL.
    QueryDef("g7c_pq_trained",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cbs = Embeddings.trainPqCodebooks(emb, "vec_id", "embedding",
          4, 16, 16, 2)
        // adist is a function of TRAINED codeword values, whose
        // decimal→double conversion can differ by 1 ulp across
        // engines (unlike the md5-literal codebooks of g6/g7, which
        // are bit-identical constants) — round like g5's mean_dist.
        // cos stays raw: it reads the original vectors only.
        Embeddings.annPqAdcWith(emb, emb.filter(col("vec_id") < 3), cbs,
            "vec_id", "embedding", 16, 3, 10)
          .withColumn("adist", QueryDefs.q6(col("adist")))
          .orderBy("qid", "rank")
      },
      Some {
        def l2(a: String, b: String): String =
          s"""list_reduce(list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y)"""
        // one k-means + dense-code block per subvector m
        def pqTrainCtes(m: Int): String = {
          val lo = m * 16 + 1
          val hi = m * 16 + 16
          s"""sub$m AS (SELECT vec_id, embedding[$lo:$hi] AS sub FROM embeddings),
          c0_$m AS (SELECT vec_id AS cluster, list_transform(sub, x -> CAST(x AS DOUBLE)) AS cv
                    FROM sub$m WHERE vec_id < 16),
          s1_$m AS (SELECT e.vec_id, e.sub, c.cluster, ${l2("e.sub", "c.cv")} AS d
                    FROM sub$m e CROSS JOIN c0_$m c),
          a1_$m AS (SELECT vec_id, sub, cluster FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                      FROM s1_$m) t
                    WHERE rn = 1),
          x1_$m AS (SELECT cluster, unnest(list_transform(range(0, len(sub)),
                      i -> {'dim': i, 'x': CAST(sub[CAST(i + 1 AS INT)] AS DOUBLE)})) AS u
                    FROM a1_$m),
          u1_$m AS (SELECT cluster, CAST(u.dim AS INT) AS dim,
                      CAST(SUM(CAST(u.x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mx
                    FROM x1_$m GROUP BY 1, 2),
          c1_$m AS (SELECT cluster, list(mx ORDER BY dim) AS cv FROM u1_$m GROUP BY cluster),
          cb$m AS (SELECT row_number() OVER (ORDER BY cluster) - 1 AS j, cv FROM c1_$m),
          encs$m AS (SELECT e.vec_id, b.j, ${l2("e.sub", "b.cv")} AS d
                     FROM sub$m e CROSS JOIN cb$m b),
          enc$m AS (SELECT vec_id, j AS code$m FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
                      FROM encs$m) t
                    WHERE rn = 1)"""
        }
        val adist = (0 until 4).map(m =>
          l2(s"q.qvec[${m * 16 + 1}:${m * 16 + 16}]", s"b$m.cv")).mkString(" + ")
        val cbJoins = (0 until 4).map(m => s"JOIN cb$m b$m ON b$m.j = c.code$m").mkString(" ")
        s"""WITH ${(0 until 4).map(pqTrainCtes).mkString(",\n")},
          enc AS (SELECT e.vec_id, e.embedding, enc0.code0, enc1.code1, enc2.code2, enc3.code3
                  FROM embeddings e
                  JOIN enc0 USING (vec_id) JOIN enc1 USING (vec_id)
                  JOIN enc2 USING (vec_id) JOIN enc3 USING (vec_id)),
          scored AS (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              q.qvec AS qvec, c.embedding AS cvec,
              $adist AS adist
            FROM enc c
            CROSS JOIN (SELECT vec_id, embedding AS qvec FROM embeddings WHERE vec_id < 3) q
            $cbJoins
            WHERE q.vec_id != c.vec_id),
          cand AS (
            SELECT qid, cid, qvec, cvec, adist FROM (
              SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS arank
              FROM scored) t
            WHERE arank <= 10),
          cand2 AS (SELECT qid, cid, adist, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, ${QueryDefs.sqlQ6("adist")} AS adist, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // P8: semantic contamination — the embedding-space complement of
    // p3's n-gram gate: for each eval vector (vec_id < 10), the max
    // cosine against the train split and how many train vectors clear
    // the 0.5 similarity bar. Eval set broadcast, train side streams
    // through one map-side-combined aggregation — no train-side
    // shuffle at any scale.
    QueryDef("p8_semantic_contamination",
      (s, dir) => p8Frame(s, dir).orderBy("qid"),
      Some(s"$p8SqlBase ORDER BY qid")),

    // P9: SemDeDup — the composition g5 exists for (cluster, then
    // dedup WITHIN clusters): trained k-means assignment bounds the
    // candidate pairs (join keyed by cluster — Σ cluster² work, never
    // all-pairs), exact cosine ≥ τ makes edges, connected components
    // make semantic groups, and the canonical keeper per group is
    // P6's keep-best policy with centroid-centrality as quality
    // (min assignment distance, ties to smallest id). The oracle
    // replays training (g5's CTEs), in-cluster pairs, recursive
    // reachability (f7's pattern) and the keep-best aggregation end
    // to end. τ = 0.3 keeps real multi-member groups in the random
    // test vectors; output partitions the corpus (Σ n_members = N).
    QueryDef("p9_semantic_dedup",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.semanticDedup(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 2, 0.3)
          .orderBy("component")
      },
      Some(p9OracleSql("vec_id < 8"))),

    // P9b: SemDeDup at the SURVEY §5 sizing rule — k = max(8, N/64)
    // trained cells, so clusters stay ~64 members and the in-cluster
    // pair stage (Σ cluster² — the quadratic part on BOTH engines) is
    // linear in N. This is the spelling a 100 TB corpus runs; p9's
    // k=8 is the demo constant. The count-derived k keeps the oracle's
    // serial DuckDB replay linear-ish too, which is what lets the
    // composition be oracle-checked ABOVE sf0.01 (p9's one remaining
    // scale-evidence gap in round 6's verdict).
    QueryDef("p9b_semantic_dedup_sized",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // integer division == floor for the positive count; the SQL
        // seed spells floor() so both engines pick identical seeds
        val cells = math.max(8L, emb.count() / 64L)
        Embeddings.semanticDedup(emb, emb.filter(col("vec_id") < cells),
            "vec_id", "embedding", 2, 0.3)
          .orderBy("component")
      },
      Some(p9OracleSql(
        """vec_id < greatest(8, CAST(floor(
             (SELECT COUNT(*) FROM embeddings) / 64.0) AS BIGINT))"""))),

    // G8: the recall report — trained-coarse (g7b) × trained-PQ (g7c)
    // IVF-PQ serving measured against exact brute force at nprobe ∈
    // {1,2,4,8}, over a fixed 10-query set at k=10. This is the
    // operating-curve a user reads to choose nprobe for a recall
    // target (and, with the SURVEY §5 sizing rule, cells for a
    // corpus). The exact-rerank budget scales with the probe width
    // (20 per probed cell) — the production pairing; see
    // Embeddings.recallReport for why a fixed budget bends the curve
    // DOWN. The oracle replays BOTH trainings and all four serving
    // chains via an nprobe VALUES fan-out — recall fractions are
    // integer-count ratios, so the hash match is exact.
    // G12: serving-family recall SCOREBOARD — the capstone instrument
    // over the five ANN families: one query set (vec_id < 10), one
    // K (5), one rerank budget (32) where a screen applies, each
    // family's top-K intersected with the brute-force truth. Output
    // is integer hit counts (n_hits of n_truth) — no float recall
    // column, so the oracle comparison is exact by construction.
    // The truth pair set is computed once and persisted for all five
    // joins. This is the table a platform team reads to pick a
    // serving family for a corpus: bucketed families (LSH/IVF) trade
    // candidates for recall, screen families (SQ/BQ/prefix) trade
    // per-candidate arithmetic, and the measured hits quantify the
    // trade on THIS corpus rather than trusting the arithmetic.
    QueryDef("g12_family_scoreboard",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 10)
        val truth = graft.operators.TrackedCache.persist(
          Embeddings.knnBruteForce(emb, q, "vec_id", "embedding", 5)
            .select("qid", "cid"))
        val rSized = math.max(32L, emb.count() / 16).toInt
        val fams: Seq[(Int, String, org.apache.spark.sql.DataFrame)] = Seq(
          (1, "lsh4_multiprobe",
            Embeddings.annLshMultiProbe(emb, q, "vec_id", "embedding", 4, 64, 5)),
          (2, "ivf8_nprobe2",
            Embeddings.annIvfMultiProbe(emb, q, emb.filter(col("vec_id") < 8),
              "vec_id", "embedding", 5, 2)),
          (3, "sq_int8_r32",
            Embeddings.annSqInt8(emb, q, "vec_id", "embedding", 32, 5)),
          (4, "bq_r32",
            Embeddings.annBinary(emb, q, "vec_id", "embedding", 32, 5)),
          (5, "prefix16_r32",
            Embeddings.annDimPrefix(emb, q, "vec_id", "embedding", 16, 32, 5)),
          // the RULE-SIZED spellings: coarse screens need rerank ∝ N
          // (max(32, N/16)); ONE driver-sized count shared by both
          // rows (the g5-collect contract) — measured to restore what
          // the fixed budget loses at 40× corpus
          (6, "bq_rsized",
            Embeddings.annBinary(emb, q, "vec_id", "embedding", rSized, 5)),
          (7, "prefix16_rsized",
            Embeddings.annDimPrefix(emb, q, "vec_id", "embedding", 16, rSized, 5)),
          // JL sign projection at the same 16-dim / r32 budget as
          // prefix16_r32 — the apples-to-apples row for the
          // axis-bias question (mix all dims vs keep the first 16)
          (8, "jl16_r32",
            Embeddings.annJl(emb, q, "vec_id", "embedding", 16, 64, 32, 5)),
          // JL is a coarse screen like bq/prefix: fixed rerank
          // collapses at corpus scale (measured 1/50 at 200k
          // vectors), the N/16 rule restores it
          (9, "jl16_rsized",
            Embeddings.annJl(emb, q, "vec_id", "embedding", 16, 64, rSized, 5)))
        fams.map { case (ord, name, df) =>
          df.select("qid", "cid").join(truth, Seq("qid", "cid"))
            .agg(count(lit(1)).as("n_hits"))
            .select(lit(ord).as("family_order"), lit(name).as("family"),
              col("n_hits"))
        }.reduce(_ unionByName _)
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .orderBy("family_order")
      },
      Some {
        val lshProbes = ("bucket" +: (0 until 4).map(j => s"xor(bucket, ${1L << j})"))
          .mkString("[", ", ", "]")
        val sqRecon = """list_transform(codes, c2 -> (CAST(c2 AS DOUBLE) * amax) / 127.0)"""
        s"""WITH truth AS (
          SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${sqlCos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
            FROM embeddings c
            CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
            WHERE q.vec_id != c.vec_id) t
          WHERE rank <= 5),
        lb AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 4)} AS bucket FROM embeddings),
        lq0 AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM lb WHERE vec_id < 10),
        lq AS (SELECT qid, qvec, unnest($lshProbes) AS bucket FROM lq0),
        lres AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, c.vec_id AS cid, ${sqlCos("qvec", "c.embedding")} AS cos
                  FROM lb c JOIN lq USING (bucket) WHERE qid != c.vec_id) s0) t
          WHERE rank <= 5),
        cent AS (SELECT vec_id AS centroid_id, embedding AS cvec_q FROM embeddings WHERE vec_id < 8),
        iassign AS (
          SELECT vec_id, embedding, centroid_id AS cell FROM (
            SELECT e.vec_id, e.embedding, centroid_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${sqlCos("e.embedding", "cvec_q")} DESC, centroid_id) AS rn
            FROM embeddings e CROSS JOIN cent) t
          WHERE rn = 1),
        iq AS (
          SELECT vec_id AS qid, embedding AS qvec, centroid_id AS cell FROM (
            SELECT e.vec_id, e.embedding, centroid_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${sqlCos("e.embedding", "cvec_q")} DESC, centroid_id) AS prn
            FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 10) t
          WHERE prn <= 2),
        ires AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, c.vec_id AS cid, ${sqlCos("qvec", "c.embedding")} AS cos
                  FROM iassign c JOIN iq USING (cell) WHERE qid != c.vec_id) s0) t
          WHERE rank <= 5),
        sq AS (
          SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
          FROM embeddings),
        enc AS (
          SELECT vec_id, embedding, amax,
            CASE WHEN amax > 0 THEN
              list_transform(embedding, x ->
                CAST(floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5) AS BIGINT))
            ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS codes
          FROM sq),
        sscored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            q.embedding AS qvec, c.embedding AS cvec,
            CASE WHEN c.amax > 0 THEN ${sqlCos("q.embedding", sqRecon)}
              ELSE -2.0 END AS asim
          FROM enc c
          CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
          WHERE q.vec_id != c.vec_id),
        scand AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY asim DESC, cid) AS arank
            FROM sscored) t
          WHERE arank <= 32),
        sres AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM scand) s0) t
          WHERE rank <= 5),
        bscored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            q.embedding AS qvec, c.embedding AS cvec,
            CAST(len(list_filter(list_zip(q.embedding, c.embedding),
              p -> (p[1] > 0) != (p[2] > 0))) AS INT) AS hamming
          FROM embeddings c
          CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
          WHERE q.vec_id != c.vec_id),
        bcand AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS arank
            FROM bscored) t
          WHERE arank <= 32),
        bres AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM bcand) s0) t
          WHERE rank <= 5),
        pscored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            q.embedding AS qvec, c.embedding AS cvec,
            ${sqlCos("q.embedding[1:16]", "c.embedding[1:16]")} AS s_pre
          FROM embeddings c
          CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
          WHERE q.vec_id != c.vec_id),
        pcand AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s_pre DESC, cid) AS arank
            FROM pscored) t
          WHERE arank <= 32),
        pres AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM pcand) s0) t
          WHERE rank <= 5),
        rsz AS (SELECT greatest(32, COUNT(*) // 16) AS rr FROM embeddings),
        bcand2 AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS arank
            FROM bscored) t CROSS JOIN rsz
          WHERE arank <= rr),
        bres2 AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM bcand2) s0) t
          WHERE rank <= 5),
        pcand2 AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s_pre DESC, cid) AS arank
            FROM pscored) t CROSS JOIN rsz
          WHERE arank <= rr),
        pres2 AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM pcand2) s0) t
          WHERE rank <= 5),
        jb AS (
          SELECT vec_id, embedding, ${sqlJlProject("embedding")} AS proj
          FROM embeddings),
        jscored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            q.embedding AS qvec, c.embedding AS cvec,
            ${sqlCos("q.proj", "c.proj")} AS s_proj
          FROM jb c
          CROSS JOIN (SELECT vec_id, embedding, proj FROM jb WHERE vec_id < 10) q
          WHERE q.vec_id != c.vec_id),
        jcand AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s_proj DESC, cid) AS arank
            FROM jscored) t
          WHERE arank <= 32),
        jres AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM jcand) s0) t
          WHERE rank <= 5),
        jcand2 AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s_proj DESC, cid) AS arank
            FROM jscored) t CROSS JOIN rsz
          WHERE arank <= rr),
        jres2 AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM jcand2) s0) t
          WHERE rank <= 5),
        nt AS (SELECT COUNT(*) AS n_truth FROM truth)
        SELECT * FROM (
          SELECT 1 AS family_order, 'lsh4_multiprobe' AS family,
            (SELECT COUNT(*) FROM lres JOIN truth USING (qid, cid)) AS n_hits, n_truth FROM nt
          UNION ALL SELECT 2, 'ivf8_nprobe2',
            (SELECT COUNT(*) FROM ires JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 3, 'sq_int8_r32',
            (SELECT COUNT(*) FROM sres JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 4, 'bq_r32',
            (SELECT COUNT(*) FROM bres JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 5, 'prefix16_r32',
            (SELECT COUNT(*) FROM pres JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 6, 'bq_rsized',
            (SELECT COUNT(*) FROM bres2 JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 7, 'prefix16_rsized',
            (SELECT COUNT(*) FROM pres2 JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 8, 'jl16_r32',
            (SELECT COUNT(*) FROM jres JOIN truth USING (qid, cid)), n_truth FROM nt
          UNION ALL SELECT 9, 'jl16_rsized',
            (SELECT COUNT(*) FROM jres2 JOIN truth USING (qid, cid)), n_truth FROM nt
        ) t ORDER BY family_order"""
      }),

    QueryDef("g8_recall_report",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val coarse = Embeddings.collectCodebook(
          Embeddings.kmeansCentroids(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 2))
        val cbs = Embeddings.trainPqCodebooks(emb, "vec_id", "embedding",
          4, 16, 16, 2)
        Embeddings.recallReport(emb, emb.filter(col("vec_id") < 10),
            coarse, cbs, "vec_id", "embedding", 16, Seq(1, 2, 4, 8), 20, 10)
          .orderBy("nprobe")
      },
      Some(s"""WITH $g8OracleCtes
        SELECT np AS nprobe, COUNT(*) AS n_hits,
          ${QueryDefs.sqlQ4("CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM bf)")} AS recall
        FROM topk JOIN bf USING (qid, cid)
        GROUP BY np ORDER BY nprobe""")),

    // G16: nprobe SIZING report — the e14f/e25d instrument treatment
    // for ANN serving: per recall target (percent), the smallest
    // probe width meeting it (exact integer cross-multiplication:
    // n_hits·100 ≥ target·n_truth), the achieved recall, and the
    // candidate-pool cost that width pays (index rows ADC-scored —
    // the serving cost axis). Unreachable targets report the widest
    // width with met=false. One g8 construction prices every target;
    // oracle replays the full trained chain via the shared g8 CTEs.
    QueryDef("g16_nprobe_sizing",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val coarse = Embeddings.collectCodebook(
          Embeddings.kmeansCentroids(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 2))
        val cbs = Embeddings.trainPqCodebooks(emb, "vec_id", "embedding",
          4, 16, 16, 2)
        // one-partition sort: a global orderBy's range sampling would
        // execute the expensive g8 construction TWICE for a 4-row
        // report (the §7 sortedSmall rule)
        QueryDefs.sortedSmall(
          Embeddings.nprobeSizingReport(emb, emb.filter(col("vec_id") < 10),
            coarse, cbs, "vec_id", "embedding", 16, Seq(1, 2, 4, 8), 20, 10,
            Seq(50, 80, 90, 99)),
          col("target"))
      },
      Some(s"""WITH $g8OracleCtes,
        candn AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS cand_rows
                  FROM scored GROUP BY np),
        hits AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS n_hits
                 FROM topk JOIN bf USING (qid, cid) GROUP BY np),
        tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM bf),
        rep AS (SELECT nv.np, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
            CAST(COALESCE(c.cand_rows, 0) AS BIGINT) AS cand_rows, tr.n_truth
          FROM nv LEFT JOIN hits h ON h.np = nv.np
          LEFT JOIN candn c ON c.np = nv.np CROSS JOIN tr),
        tg(target) AS (VALUES (CAST(50 AS BIGINT)), (CAST(80 AS BIGINT)),
                              (CAST(90 AS BIGINT)), (CAST(99 AS BIGINT))),
        graded AS (SELECT tg.target, r.np, r.n_hits, r.n_truth, r.cand_rows,
            (r.n_hits * 100 >= tg.target * r.n_truth) AS met
          FROM tg CROSS JOIN rep r),
        pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY target
            ORDER BY met DESC, CASE WHEN met THEN np ELSE -np END ASC) AS rk
          FROM graded)
        SELECT target, np AS nprobe, met, n_hits, n_truth, cand_rows,
          ${QueryDefs.sqlQ4("CAST(n_hits AS DOUBLE) / n_truth")} AS recall
        FROM pick WHERE rk = 1 ORDER BY target""")),

    // G9: int8 scalar-quantization ANN (Embeddings.annSqInt8) — the
    // oracle replays the per-vector quantize → reconstruct → approx
    // cosine → exact rerank chain arithmetic-for-arithmetic:
    // floor(x·(127/amax) + 0.5) codes, (code·amax)/127 reconstruction
    // (parenthesization matches the Spark column expressions), the
    // shared strict-left-fold cosine.
    QueryDef("g9_ann_sq_int8",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annSqInt8(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 10, 3)
          .orderBy("qid", "rank")
      },
      Some {
        val recon = """list_transform(codes, c2 -> (CAST(c2 AS DOUBLE) * amax) / 127.0)"""
        s"""WITH sq AS (
            SELECT vec_id, embedding,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
            FROM embeddings),
          enc AS (
            SELECT vec_id, embedding, amax,
              CASE WHEN amax > 0 THEN
                list_transform(embedding, x ->
                  CAST(floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5) AS BIGINT))
              ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS codes
            FROM sq),
          scored AS (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              q.embedding AS qvec, c.embedding AS cvec,
              CASE WHEN c.amax > 0
                THEN ${sqlCos("q.embedding", recon)}
                ELSE -2.0 END AS asim
            FROM enc c
            CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
            WHERE q.vec_id != c.vec_id),
          cand AS (
            SELECT qid, cid, qvec, cvec, asim FROM (
              SELECT *, row_number() OVER (PARTITION BY qid ORDER BY asim DESC, cid) AS arank
              FROM scored) t
            WHERE arank <= 10),
          cand2 AS (SELECT qid, cid, asim, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, asim, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G10: ANN via 1-bit binary quantization — sign codes (32×
    // compression), Hamming screen (xor+popcount: ~64× cheaper per
    // candidate than a float cosine), exact rerank. The oracle
    // replays the screen as a sign-DISAGREEMENT count over the
    // zipped float lists — arithmetically identical to popcount of
    // the xored sign codes, without materializing the bit-63 long.
    // G11: dimension-prefix screened ANN — the Matryoshka serving
    // pattern (Kusupati et al. 2022): coarse cosine over the first
    // 16 of 64 dims (¼ scan arithmetic), exact full-dim rerank of
    // the top-32. Fifth serving family (after LSH/PQ/SQ/BQ); the
    // only one whose SCREEN is exact float math, so screen + rerank
    // are both replayed bit-exactly by the oracle with no trained
    // state anywhere.
    QueryDef("g11_ann_dim_prefix",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annDimPrefix(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 16, 32, 3)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qvec, embedding[1:16] AS qpre
          FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id AS cid, embedding AS cvec, embedding[1:16] AS cpre
          FROM embeddings),
        scored AS (
          SELECT qid, cid, qvec, cvec, ${sqlCos("qpre", "cpre")} AS s_pre
          FROM c CROSS JOIN q WHERE qid != cid),
        cand AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s_pre DESC, cid) AS arank
            FROM scored) t
          WHERE arank <= 32),
        cand2 AS (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // G15: Johnson–Lindenstrauss compressed serving — coarse-score in
    // the d'=16 seeded ±1 sign-projected space (Achlioptas 2003,
    // database-friendly JL), exact-rerank top-32. Unlike g11's
    // prefix (which keeps 16 raw dims and their axis bias), the JL
    // projection mixes ALL 64 dims into each of the 16 — distance
    // preservation holds in expectation for ANY fixed vector set.
    // Projection is row-local (16 literal-row dot folds in the scan);
    // the projected vectors are what a serving index stores: 4× less
    // float traffic in the coarse pass at corpus scale.
    QueryDef("g15_ann_jl",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annJl(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 16, 64, 32, 3)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qvec,
            ${sqlJlProject("embedding")} AS qproj
          FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id AS cid, embedding AS cvec,
            ${sqlJlProject("embedding")} AS cproj
          FROM embeddings),
        scored AS (
          SELECT qid, cid, qvec, cvec, ${sqlCos("qproj", "cproj")} AS s_proj
          FROM c CROSS JOIN q WHERE qid != cid),
        cand AS (
          SELECT qid, cid, qvec, cvec FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s_proj DESC, cid) AS arank
            FROM scored) t
          WHERE arank <= 32),
        cand2 AS (SELECT qid, cid, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank""")),

    QueryDef("g10_ann_binary",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Embeddings.annBinary(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 10, 3)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings),
        scored AS (
          SELECT qid, cid, qvec, cvec,
            CAST(len(list_filter(list_zip(qvec, cvec),
              p -> (p[1] > 0) != (p[2] > 0))) AS INT) AS hamming
          FROM c CROSS JOIN q WHERE qid != cid),
        cand AS (
          SELECT qid, cid, qvec, cvec, hamming FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS arank
            FROM scored) t
          WHERE arank <= 10),
        cand2 AS (SELECT qid, cid, hamming, ${sqlCos("qvec", "cvec")} AS cos FROM cand)
        SELECT qid, rank, cid, hamming, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          FROM cand2) t
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // G10b: the banded serving path — NO cross join; a query probes
    // its 4 16-bit band buckets of the sign code (lossless to
    // Hamming 3, the f4b/i4 contract). Query set is a re-ingested
    // copy of vectors 0..9 (id+100000) — the i4 construction: each
    // query meets its original at Hamming 0, so the check is
    // non-degenerate regardless of the corpus's natural near-dup
    // density. The oracle rebuilds each band value as 16 sign CASEs
    // (band b bit j ≡ sign of dim 16b+j — exactly the shift-mask of
    // the Spark code, with no bit-63 BIGINT hazard).
    QueryDef("g10b_ann_binary_banded",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 10)
          .withColumn("vec_id", col("vec_id") + 100000)
        Embeddings.annBinaryBanded(emb, q, "vec_id", "embedding", 3, 3)
          .orderBy("qid", "rank")
      },
      Some {
        def bv(tbl: String, b: Int): String =
          (0 until 16).map { j =>
            s"(CASE WHEN $tbl.embedding[${b * 16 + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)"
          }.mkString("(", " + ", ")")
        def bandRows(tbl: String): String =
          (0 until 4).map { b =>
            s"SELECT vec_id, embedding, $b AS band, ${bv(tbl, b)} AS bv FROM $tbl"
          }.mkString(" UNION ALL ")
        s"""WITH cq AS (
            SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10),
          cbands AS (${bandRows("embeddings")}),
          qbands AS (${bandRows("cq")}),
          cand AS (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              q.embedding AS qvec, c.embedding AS cvec, COUNT(*) AS n_bands
            FROM cbands c JOIN qbands q ON c.band = q.band AND c.bv = q.bv
            WHERE q.vec_id != c.vec_id
            GROUP BY 1, 2, 3, 4),
          ham AS (
            SELECT qid, cid, qvec, cvec, n_bands,
              CAST(len(list_filter(list_zip(qvec, cvec),
                p -> (p[1] > 0) != (p[2] > 0))) AS INT) AS hamming
            FROM cand),
          surv AS (SELECT qid, cid, hamming, n_bands,
              ${sqlCos("qvec", "cvec")} AS cos
            FROM ham WHERE hamming <= 3)
          SELECT qid, rank, cid, hamming, n_bands, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
            FROM surv) t
          WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // G13: hybrid retrieval with reciprocal-rank fusion — the serving
    // pattern a RAG / data-selection stack runs: a keyword leg (h8's
    // BM25 over per-query term sets) and a vector leg (cosine top-N
    // over the query embedding) each produce a ranking, fused by
    // RRF(d) = Σ_legs 1/(60 + rank_leg(d)). Scale shape: the keyword
    // leg is inverted-index-shaped (map-side-combined TF/DF aggs,
    // term and stats frames broadcast); the vector leg here is the
    // exact scorer for a deterministic oracle, and is exactly the
    // g12 scoreboard's family parameter — swap in annIvfMultiProbe /
    // annSqInt8 for the billion-vector deployment without touching
    // the fusion. The fusion join moves ≤ topN rows per query per
    // leg, never the corpus. Portability: BM25 reuses h8's q6 +
    // exact-decimal-sum spelling; RRF contributions are
    // floor(1e9/(60+rank)) — one IEEE divide + floor on integer
    // inputs, bit-identical in both engines — summed as BIGINT, so
    // the fused ordering is integer-exact.
    QueryDef("g13_hybrid_rrf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val termRows = Seq((0L, "spark"), (0L, "hash"), (1L, "window"),
          (1L, "join"), (2L, "stream"), (2L, "vector"))
        val terms = s.createDataFrame(termRows).toDF("qid", "w")
        val termList = termRows.map(_._2).distinct
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"), explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
        // ONE doc-grain aggregation carries dl AND the per-term tf
        // counts (vs the dl / tf / dl-join spelling: one corpus
        // explode instead of two, and the doc-grain tf⋈dl shuffle
        // join disappears — dl rides the same row). Persisted: stats
        // and the tf unpivot both read it.
        val perDoc = graft.operators.TrackedCache.persist(
          tok.groupBy("doc_id").agg(
            count(lit(1)).as("dl"),
            termList.zipWithIndex.map { case (t, i) =>
              sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$i")
            }: _*))
        val stats = perDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tt"))
          .select(col("n_docs"), (col("tt").cast("double") / col("n_docs")).as("avgdl"))
        val stackExpr = termList.zipWithIndex
          .map { case (t, i) => s"'$t', tf_$i" }.mkString(", ")
        val tf = perDoc.select(col("doc_id"), col("dl"),
            expr(s"stack(${termList.size}, $stackExpr) as (w, tf)"))
          .filter(col("tf") > 0)
        val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val idf = QueryDefs.q6(log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
        val score = QueryDefs.q6(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        val kw = tf.join(broadcast(terms), "w")
          .filter(col("doc_id") =!= col("qid"))
          .join(broadcast(dfT), "w")
          .crossJoin(broadcast(stats))
          .withColumn("__score", score)
          .groupBy("qid", "doc_id")
          .agg(sum(col("__score").cast("decimal(18,6)")).cast("double").as("bm25"))
          .withColumn("kw_rank", row_number().over(
            Window.partitionBy("qid").orderBy(col("bm25").desc, col("doc_id"))))
          .filter(col("kw_rank") <= 50)
          .select("qid", "doc_id", "kw_rank")
        val emb = Tables.embeddings(s, dir)
        val vec = Embeddings.knnBruteForce(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 50)
          .select(col("qid"), col("cid").as("doc_id"), col("rank").as("vec_rank"))
        def contrib(r: org.apache.spark.sql.Column) =
          coalesce(floor(lit(1000000000.0) / (lit(60.0) + r)).cast("long"), lit(0L))
        kw.join(vec, Seq("qid", "doc_id"), "full_outer")
          .withColumn("rrf", contrib(col("kw_rank")) + contrib(col("vec_rank")))
          .withColumn("fused_rank", row_number().over(
            Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))))
          .filter(col("fused_rank") <= 10)
          .select("qid", "fused_rank", "doc_id", "kw_rank", "vec_rank", "rrf")
          .orderBy("qid", "fused_rank")
      },
      Some(s"""WITH terms(qid, w) AS (VALUES (0, 'spark'), (0, 'hash'),
          (1, 'window'), (1, 'join'), (2, 'stream'), (2, 'vector')),
        tok AS (SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '\\s+'), w -> w != '')) AS w
          FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
          WHERE w IN ('spark', 'hash', 'window', 'join', 'stream', 'vector')
          GROUP BY doc_id, w),
        dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        sc AS (SELECT t.qid, tf.doc_id,
            ${QueryDefs.sqlQ6(s"(${QueryDefs.sqlQ6("ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)")}) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))")} AS score
          FROM tf JOIN terms t USING (w) JOIN dfq USING (w)
          JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
          WHERE tf.doc_id != t.qid),
        kw0 AS (SELECT qid, doc_id,
            CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS bm25
          FROM sc GROUP BY qid, doc_id),
        kw AS (SELECT qid, doc_id, kw_rank FROM (
            SELECT qid, doc_id, row_number() OVER (
              PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS kw_rank
            FROM kw0) t
          WHERE kw_rank <= 50),
        q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3),
        vs AS (SELECT qid, vec_id AS doc_id, ${sqlCos("qvec", "embedding")} AS cos
          FROM embeddings CROSS JOIN q WHERE qid != vec_id),
        vec AS (SELECT qid, doc_id, vec_rank FROM (
            SELECT qid, doc_id, row_number() OVER (
              PARTITION BY qid ORDER BY cos DESC, doc_id) AS vec_rank
            FROM vs) t
          WHERE vec_rank <= 50),
        fused AS (
          SELECT coalesce(kw.qid, vec.qid) AS qid,
            coalesce(kw.doc_id, vec.doc_id) AS doc_id, kw_rank, vec_rank,
            coalesce(CAST(floor(1000000000.0 / (60.0 + kw_rank)) AS BIGINT), 0) +
            coalesce(CAST(floor(1000000000.0 / (60.0 + vec_rank)) AS BIGINT), 0) AS rrf
          FROM kw FULL OUTER JOIN vec
            ON kw.qid = vec.qid AND kw.doc_id = vec.doc_id)
        SELECT qid, fused_rank, doc_id, kw_rank, vec_rank, rrf FROM (
          SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY rrf DESC, doc_id) AS fused_rank
          FROM fused) t
        WHERE fused_rank <= 10 ORDER BY qid, fused_rank""")),

    // G14: MMR diversified reranking (Carbonell/Goldstein maximal
    // marginal relevance) — the diversity pass a retrieval stack runs
    // over its top-k before serving (and the few-shot-example selector
    // a data-selection pipeline uses): greedily pick
    // argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ=0.7, 4
    // picks from the top-8 cosine candidates. The greedy loop is
    // inherently sequential in STEPS but each step is fully
    // distributed over queries — 4 unrolled DataFrame iterations
    // (anti-join remaining, max-sim-to-selected agg, one-row-per-qid
    // window pick), all on candidate-sized frames (≤ k rows per qid;
    // the corpus appears only in the one kNN at the top). Portability:
    // rel and sims are the bit-identical cosine infrastructure; each
    // step's score is the same IEEE ops in both engines with cid
    // tie-breaks, so the SELECTION (integer cids) is exact and only
    // the reported score is q6-presented.
    QueryDef("g14_mmr_rerank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir)
        val cand = graft.operators.TrackedCache.persist(
          Embeddings.knnBruteForce(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", 8)
            .select(col("qid"), col("cid"), col("cos").as("rel")))
        val cv = cand.join(
          emb.select(col("vec_id").as("cid"), col("embedding").as("cvec")), "cid")
        val x = cv.select(col("qid"), col("cid").as("ca"), col("cvec").as("va"))
        val y = cv.select(col("qid"), col("cid").as("cb"), col("cvec").as("vb"))
        val sims = x.join(y, Seq("qid")).filter(col("ca") =!= col("cb"))
          .select(col("qid"), col("ca"), col("cb"),
            graft.functions.VectorFunctions.cosineSim(col("va"), col("vb")).as("sim"))
        // The greedy loop is CANDIDATE-sized per query (≤ k rel rows +
        // k² sims), so it runs ROW-LOCALLY per qid: gather each qid's
        // candidates and pairwise sims into arrays and unroll the 4
        // picks as one codegen'd projection (the h23 Viterbi-unroll
        // pattern) — the checkpointed 4-step DataFrame spelling paid
        // ~30 driver-fenced jobs of window/join fixed cost for tiny
        // frames (HISTORY.md, "Driver fences cost whole jobs"). Same
        // arithmetic: score(c) = 0.7·rel − 0.3·max sim(c, selected);
        // argmax folds candidates
        // in cid order, replacing only on strictly-greater score —
        // exactly row_number(score DESC, cid ASC) = 1. Distributed
        // over queries at any scale; no per-step fences.
        val candArr = cand.groupBy("qid")
          .agg(sort_array(collect_list(struct(col("cid"), col("rel")))).as("cs"))
        val simArr = sims.groupBy("qid")
          .agg(collect_list(struct(col("ca"), col("cb"), col("sim"))).as("ss"))
        val noPick = struct(lit(-1L).as("cid"), lit(0.0).as("sc"))
        def argmax(score: org.apache.spark.sql.Column => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          aggregate(col("cs"), noPick, (acc, c) => {
            val sc = score(c)
            when(sc.isNotNull &&
                (acc.getField("cid") === -1L || sc > acc.getField("sc")),
              struct(c.getField("cid").as("cid"), sc.as("sc"))).otherwise(acc)
          })
        def maxSimTo(c: org.apache.spark.sql.Column, sel: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          array_max(transform(
            filter(col("ss"), p => p.getField("ca") === c.getField("cid") &&
              array_contains(sel, p.getField("cb"))),
            p => p.getField("sim")))
        var g = candArr.join(simArr, Seq("qid"), "left")
          .withColumn("p1", argmax(c => c.getField("rel")))
          .withColumn("sel", array(col("p1").getField("cid")))
        for (t <- 2 to 4) {
          g = g.withColumn(s"p$t", argmax { c =>
              when(array_contains(col("sel"), c.getField("cid")), lit(null))
                .otherwise(lit(0.7) * c.getField("rel") -
                  lit(0.3) * maxSimTo(c, col("sel")))
            })
            .withColumn("sel", array_append(col("sel"), col(s"p$t").getField("cid")))
        }
        val picks = array((1 to 4).map(t =>
          struct(lit(t).as("step"), col(s"p$t").getField("cid").as("cid"),
            col(s"p$t").getField("sc").as("score"))): _*)
        g.select(col("qid"), explode(filter(picks,
            p => p.getField("cid") =!= -1L)).as("p"))
          .select(col("qid"), col("p.step").as("step"), col("p.cid").as("cid"),
            QueryDefs.q6(col("p.score")).as("mmr"))
          .orderBy("qid", "step")
      },
      Some {
        val steps = (2 to 4).map { t =>
          s"""rem$t AS (SELECT c.* FROM cand c
              WHERE NOT EXISTS (SELECT 1 FROM u${t - 1} u
                WHERE u.qid = c.qid AND u.cid = c.cid)),
            ms$t AS (SELECT s.qid, s.ca AS cid, max(s.sim) AS maxsim
              FROM sims s JOIN u${t - 1} u ON u.qid = s.qid AND u.cid = s.cb
              GROUP BY s.qid, s.ca),
            sc$t AS (SELECT r.qid, r.cid, 0.7 * r.rel - 0.3 * m.maxsim AS score
              FROM rem$t r JOIN ms$t m ON m.qid = r.qid AND m.cid = r.cid),
            s$t AS (SELECT qid, cid, $t AS step, score FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY qid ORDER BY score DESC, cid) AS rn
                FROM sc$t) z
              WHERE rn = 1),
            u$t AS (SELECT qid, cid FROM u${t - 1} UNION ALL SELECT qid, cid FROM s$t)"""
        }.mkString(",\n")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
            FROM embeddings WHERE vec_id < 3),
          scored0 AS (SELECT qid, vec_id AS cid, embedding AS cvec,
              ${sqlCos("qvec", "embedding")} AS rel
            FROM embeddings CROSS JOIN q WHERE qid != vec_id),
          cand AS (SELECT qid, cid, cvec, rel FROM (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY rel DESC, cid) AS rn
              FROM scored0) t
            WHERE rn <= 8),
          sims AS (SELECT x.qid, x.cid AS ca, y.cid AS cb,
              ${sqlCos("x.cvec", "y.cvec")} AS sim
            FROM cand x JOIN cand y ON x.qid = y.qid AND x.cid != y.cid),
          s1 AS (SELECT qid, cid, 1 AS step, rel AS score FROM (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY rel DESC, cid) AS rn
              FROM cand) t
            WHERE rn = 1),
          u1 AS (SELECT qid, cid FROM s1),
          $steps,
          allsel AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
          SELECT qid, step, cid, ${QueryDefs.sqlQ6("score")} AS mmr
          FROM allsel ORDER BY qid, step"""
      })
  )
}
