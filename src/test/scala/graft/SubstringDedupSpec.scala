package graft

import graft.functions.{HashFunctions, HashUtil}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** F14: exact-substring dedup (Lee et al. 2022) — stride-1 token
  * windows + min-keeper. Pins (1) the kernel against a reference
  * Horner implementation, (2) the headline claim: an unaligned
  * ≥k-token repeat that fixed-chunk F8 MISSES is caught, (3) the
  * duplicate-token union arithmetic.
  */
class SubstringDedupSpec extends SparkSpecBase {
  import spark.implicits._

  /** Reference implementation: direct per-window double Horner over
    * the pre-reduced token hashes — no rolling recurrence, no kernel.
    */
  private def refWindows(text: String, k: Int): Seq[Long] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) return Seq.empty
    val P1 = HashUtil.P
    val P2 = HashUtil.RollP2
    val B = HashUtil.RollB
    val t1 = toks.map(t => HashUtil.md5Prefix64(t) % P1)
    val t2 = toks.map(t => HashUtil.md5Prefix64(t) % P2)
    (0 to toks.length - k).map { i =>
      var h1 = 0L
      var h2 = 0L
      var j = i
      while (j < i + k) { h1 = (h1 * B + t1(j)) % P1; h2 = (h2 * B + t2(j)) % P2; j += 1 }
      h1 * P2 + h2
    }
  }

  test("kernel equals the direct per-window double Horner (incl. edge cases)") {
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "Gamma", "δοκιμή", "x1", "→", "the", "of")
    val docs = Seq(
      "", "   ", "one", "a b c", "a  b\t c \n d e",
      "😀 z 😀 z 😀 z 😀 z") ++
      (1 to 10).map(_ => Seq.fill(3 + rnd.nextInt(40))(
        words(rnd.nextInt(words.length))).mkString(" "))
    for (doc <- docs; k <- Seq(1, 2, 5)) {
      val got = spark.createDataset(Seq(doc))
        .select(HashFunctions.tokenWindowHashes64(col("value"), k))
        .as[Seq[Long]].head()
      assert(got == refWindows(doc, k), s"k=$k doc=$doc")
    }
  }

  test("catches an unaligned 50-token repeat that fixed-chunk F8 misses") {
    // Doc 1: 100 distinct tokens. Doc 2: tokens 13..75 of doc 1 (a
    // 63-token verbatim repeat) placed at position 10 — displacement
    // 3, a NON-multiple of F8's chunk size 8. F8 chunks at
    // doc-relative multiples of 8, so the copy samples different
    // 8-token chunks in each doc: zero chunk equality, repeat missed.
    val t = (0 until 100).map(i => s"w$i")
    val doc1 = t.mkString(" ")
    val copied = t.slice(13, 76) // 63 tokens
    val doc2 = ((0 until 10).map(i => s"z$i") ++ copied ++
      (0 until 10).map(i => s"y$i")).mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")

    // F8 at chunk size 8: no cross-doc duplicate chunks (doc 2 keeps
    // everything that doc 1 doesn't share chunk-aligned — i.e. all).
    val f8 = Dedup.spanDedupStats(df, "doc_id", "text", 8)
      .orderBy("doc_id").collect()
    assert(f8(1).getAs[Long]("n_kept") == f8(1).getAs[Long]("n_chunks"),
      "F8 should MISS the unaligned repeat (that blindness is the point)")

    // F14 at window 50: doc 2's copy contains 63-50+1 = 14 windows
    // that also occur in doc 1 → doc 1 keeps them (smaller id), doc 2
    // marks them duplicate; union coverage = the whole 63-token span.
    val f14 = Dedup.substringDedupStats(df, "doc_id", "text", 50)
      .orderBy("doc_id").collect()
    assert(f14(0).getAs[Long]("n_dup_windows") == 0L)
    assert(f14(1).getAs[Long]("n_dup_windows") == 14L)
    assert(f14(1).getAs[Long]("n_dup_tokens") == 63L)
  }

  test("duplicate-token union arithmetic: overlapping and disjoint runs") {
    // doc 3 repeats doc 1's span twice, separated by unique filler →
    // two DISJOINT dup runs of 5 windows each (k=4): positions 0..4
    // and 20..24; union = (4 consecutive-diffs of 1 + final 4) × 2 = 8+8.
    val span = (0 until 8).map(i => s"s$i") // 8 tokens → 5 windows at k=4
    val doc1 = span.mkString(" ")
    val doc3 = (span ++ (0 until 12).map(i => s"u$i") ++ span).mkString(" ")
    val df = Seq((1L, doc1), (3L, doc3)).toDF("doc_id", "text")
    val got = Dedup.substringDedupStats(df, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
    // doc 1 is keeper everywhere
    assert(got(0).getAs[Long]("n_dup_windows") == 0L)
    // doc 3: both copies' windows (5 + 5) are dups — second copy's
    // keeper is doc 1, AND the first copy's too (doc 1 < doc 3).
    assert(got(1).getAs[Long]("n_dup_windows") == 10L)
    assert(got(1).getAs[Long]("n_dup_tokens") == 16L)
  }

  test("cut removes exactly the duplicated span, keeper text untouched") {
    val t = (0 until 100).map(i => s"w$i")
    val doc1 = t.mkString(" ")
    val copied = t.slice(13, 76)
    val pre = (0 until 10).map(i => s"z$i")
    val post = (0 until 10).map(i => s"y$i")
    val doc2 = (pre ++ copied ++ post).mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val got = Dedup.substringDedupCut(df, "doc_id", "text", 50)
      .orderBy("doc_id").collect()
    // keeper doc: nothing cut
    assert(got(0).getAs[Long]("n_tokens_after") == 100L)
    assert(got(0).getAs[String]("text_dedup") == doc1)
    // dup doc: the whole 63-token copy is cut; the unique frame stays
    assert(got(1).getAs[Long]("n_tokens") == 83L)
    assert(got(1).getAs[Long]("n_tokens_after") == 20L)
    assert(got(1).getAs[String]("text_dedup") == (pre ++ post).mkString(" "))
    // invariant vs the stats spelling: tokens cut == n_dup_tokens
    val stats = Dedup.substringDedupStats(df, "doc_id", "text", 50)
      .orderBy("doc_id").collect()
    assert(got(1).getAs[Long]("n_tokens") - got(1).getAs[Long]("n_tokens_after")
      == stats(1).getAs[Long]("n_dup_tokens"))
  }

  test("property: stats match a brute-force span reference on random corpora") {
    // brute force: actual token windows (no hashing), min-(doc,pos)
    // keeper, per-doc dup counts + interval-union coverage
    def brute(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val wins = for {
        (id, ws) <- toks.toSeq
        p <- 0 to ws.length - k
      } yield (id, p, ws.slice(p, p + k).mkString(" "))
      val keeper = wins.groupBy(_._3).map { case (w, occ) =>
        w -> occ.map(o => (o._1, o._2)).min }
      val dups = wins.filter(o => keeper(o._3) != ((o._1, o._2)))
      val cov = dups.groupBy(_._1).map { case (id, ds) =>
        val ps = ds.map(_._2).sorted
        val tot = ps.zip(ps.drop(1) :+ (ps.last + k))
          .map { case (a, b) => math.min(k, b - a) }.sum
        id -> tot.toLong }
      toks.map { case (id, ws) =>
        val nw = math.max(ws.length - k + 1, 0)
        val nd = dups.count(_._1 == id)
        id -> (nw.toLong, nd.toLong, cov.getOrElse(id, 0L)) }
    }
    val rnd = new scala.util.Random(5)
    val vocab = Vector("a", "b", "c", "d") // tiny vocab → dense repeats
    for (trial <- 1 to 5) {
      val docs = (0L until 12L).map { id =>
        id -> Seq.fill(4 + rnd.nextInt(25))(vocab(rnd.nextInt(4))).mkString(" ") }
      val k = 3 + rnd.nextInt(3)
      val want = brute(docs, k)
      val got = Dedup.substringDedupStats(docs.toDF("doc_id", "text"),
          "doc_id", "text", k)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
            r.getAs[Long]("n_dup_tokens"))).toMap
      assert(got == want, s"trial $trial k=$k")
    }
  }

  test("SQL surface: tokenwindowhashes64 registered and equal to the Column API") {
    val viaSql = spark.sql(
      "SELECT tokenwindowhashes64('a b c d e', 3) AS h").as[Seq[Long]].head()
    assert(viaSql == refWindows("a b c d e", 3))
    val err = intercept[Exception](
      spark.sql("SELECT tokenwindowhashes64('x', 1 + 1)").collect())
    assert(err.getMessage.contains("literal"))
  }

  test("grid kernel: every doubling level bit-equal to the direct k-window hashes") {
    // The f14c one-scan fold's exactness claim: composing
    // h_2k(p) = (h_k(p)·B^k + h_k(p+k)) mod P per prime stream
    // reproduces the direct 2k-token Horner fold EXACTLY, at every
    // level, for every doc shape — including docs shorter than a
    // level's k (that level must emit nothing, like the direct
    // kernel's empty array) and docs landing exactly on a boundary.
    val rnd = new scala.util.Random(41)
    val words = Vector("alpha", "beta", "Gamma", "δοκιμή", "x1", "→", "the", "of")
    val docs = Seq("", "one", "a b c", "a b c d", "a b c d e f g h",
      (0 until 16).map(i => s"t$i").mkString(" ")) ++
      (1 to 8).map(_ => Seq.fill(1 + rnd.nextInt(30))(
        words(rnd.nextInt(words.length))).mkString(" "))
    for (doc <- docs; k0 <- Seq(1, 2, 5)) {
      val grid = spark.createDataset(Seq(doc))
        .select(explode(HashFunctions.tokenWindowHashGrid(col("value"), k0, 3))
          .as("kw"))
        .select(col("kw.k"), col("kw.pos"), col("kw.h"))
        .as[(Int, Int, Long)].collect().toSeq
      for (lvl <- 0 until 3) {
        val k = k0 << lvl
        val got = grid.filter(_._1 == k).sortBy(_._2)
        assert(got.map(_._2) == got.indices.map(identity),
          s"positions not contiguous at k=$k doc=$doc")
        assert(got.map(_._3) == refWindows(doc, k), s"k0=$k0 k=$k doc=$doc")
      }
    }
  }

  test("one-scan window-length report equals the per-k three-pass spelling") {
    // fold ≡ direct at the REPORT level: the same corpus through
    // substringWindowLengthReport(Seq(4, 8, 16)) and through three
    // independent substringDedupStats passes aggregated per k.
    val t = (0 until 60).map(i => s"w$i")
    val docs = Seq(
      (1L, t.mkString(" ")),
      (2L, (t.slice(7, 40) ++ Seq("zz") ++ t.slice(3, 25)).mkString(" ")),
      (3L, Seq.fill(5)("rep token run of eight words here").mkString(" ")),
      (4L, "short doc only"),
      (5L, "")).toDF("doc_id", "text")
    val ks = Seq(4, 8, 16)
    val got = Dedup.substringWindowLengthReport(docs, "doc_id", "text", ks)
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = ks.map { k =>
      val s = Dedup.substringDedupStats(docs, "doc_id", "text", k)
        .agg(sum("n_windows"), sum("n_dup_windows"), sum("n_dup_tokens"))
        .head()
      (k, s.getLong(0), s.getLong(1), s.getLong(2))
    }
    assert(got == want)
    // guard rails: duplicates and non-doubling chains refuse
    intercept[IllegalArgumentException](
      Dedup.substringWindowLengthReport(docs, "doc_id", "text", Seq(4, 4, 8)))
    intercept[IllegalArgumentException](
      Dedup.substringWindowLengthReport(docs, "doc_id", "text", Seq(4, 8, 12)))
  }

  test("short docs emit zero windows and survive with zeroed stats") {
    val df = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.substringDedupStats(df, "doc_id", "text", 50)
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getAs[Long]("n_windows") == 0L)
      assert(r.getAs[Long]("n_dup_windows") == 0L)
      assert(r.getAs[Long]("n_dup_tokens") == 0L)
      assert(r.getAs[Long]("n_tokens") == 3L)
    }
  }
}
