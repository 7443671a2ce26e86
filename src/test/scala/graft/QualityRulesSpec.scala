package graft

import graft.operators.QualityRules
import org.apache.spark.sql.functions._

/** H17: the Gopher Table A1 + C4 composite rule battery. Pins
  * (1) every engineered battery doc fails with exactly its targeted
  * first rule (and the golden doc passes all 10), (2) the exact
  * integer boundary semantics of the published thresholds (50-word
  * floor inclusive, 90% bullet fraction exclusive, mean-word-length
  * endpoints inclusive), (3) a hand-computed full signal row.
  */
class QualityRulesSpec extends SparkSpecBase {
  import spark.implicits._

  private def ruleRows(docs: Seq[(Long, String)]) =
    QualityRules.withRuleColumns(docs.toDF("doc_id", "text"), "text")
      .select("doc_id", "pass", "gopher_pass", "c4_pass", "first_fail")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          if (r.isNullAt(4)) null else r.getString(4))))
      .toMap

  test("battery docs fail with exactly their targeted first rule") {
    val got = ruleRows(QualityRules.BatteryDocs)
    assert(got(900000L) === ((true, true, true, null)))
    val expected = Map(
      900001L -> "gopher_word_count",
      900002L -> "gopher_mean_word_len",
      900003L -> "gopher_symbol_ratio",
      900004L -> "gopher_bullet_lines",
      900005L -> "gopher_ellipsis_lines",
      900006L -> "gopher_alpha_words",
      900007L -> "gopher_stopwords",
      900008L -> "c4_brace",
      900009L -> "c4_lorem",
      900010L -> "c4_min_sentences")
    expected.foreach { case (id, rule) =>
      val (pass, _, _, firstFail) = got(id)
      assert(!pass, s"doc $id should fail")
      assert(firstFail === rule, s"doc $id first_fail")
    }
    // the gopher-rule failures must leave c4 verdicts independent:
    // 900004/900005 have no sentences → c4 also fails; 900003 keeps
    // golden's periods → c4 passes despite the gopher failure
    assert(got(900003L)._3 === true)
    assert(got(900007L)._3 === true)
  }

  test("published thresholds sit on exact integer boundaries") {
    // 50 words is IN (inclusive floor); 49 is out
    val in50 = (Seq.fill(46)("the") ++ Seq("of", "and", "to", "that.")).mkString(" ")
    val in49 = (Seq.fill(45)("the") ++ Seq("of", "and", "to", "that.")).mkString(" ")
    // bullet fraction: 9/10 lines = 0.9 is NOT < 0.9 → fail; 8/10 pass
    def bulletDoc(nBullet: Int) =
      (Seq.fill(nBullet)("- the data of and that have with more words here.") ++
        Seq.fill(10 - nBullet)("the data of and that have with more words here."))
        .mkString("\n")
    val got = ruleRows(Seq(
      1L -> in50, 2L -> in49, 3L -> bulletDoc(9), 4L -> bulletDoc(8)))
    assert(got(1L)._4 !== "gopher_word_count")
    assert(got(2L)._4 === "gopher_word_count")
    assert(got(3L)._4 === "gopher_bullet_lines")
    assert(got(4L)._2 === true, "8/10 bullet lines passes gopher")
  }

  test("hand-computed signal row") {
    // 2 lines; line 1 bullet; line 2 ends with ellipsis; 1 '#'
    val doc = "- the data of systems.\nmore value here going on...# ok?"
    val row = QualityRules
      .withRuleColumns(Seq(1L -> doc).toDF("doc_id", "text"), "text")
      .select("n_words", "sum_wchars", "n_lines", "n_bullet_lines",
        "n_ellipsis_lines", "n_hash_chars", "n_ellipsis", "n_alpha_words",
        "n_req_stops", "n_sentences")
      .collect()(0)
    // words: ["-","the","data","of","systems.","more","value","here",
    //         "going","on...#","ok?"] = 11
    assert(row.getLong(0) === 11L)
    // lens: 1+3+4+2+8+4+5+4+5+6+3 = 45
    assert(row.getLong(1) === 45L)
    assert(row.getLong(2) === 2L)
    assert(row.getLong(3) === 1L)  // "- the..." starts with bullet
    assert(row.getLong(4) === 0L)  // line 2 ends "...# ok?" not "..."
    assert(row.getLong(5) === 1L)  // one '#'
    assert(row.getLong(6) === 1L)  // one '...'
    assert(row.getLong(7) === 10L) // all but "-" contain a letter
    assert(row.getLong(8) === 2L)  // {the, of}
    // [.!?] hits: "systems." + the three ellipsis dots + "ok?" = 5
    assert(row.getLong(9) === 5L)
  }

  test("repetition battery docs fail with exactly their targeted first rule") {
    val got = QualityRules
      .withRepetitionColumns(
        QualityRules.RepBatteryDocs.toDF("doc_id", "text"), "text")
      .select("doc_id", "rep_pass", "rep_first_fail")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) null else r.getString(2))))
      .toMap
    assert(got(910000L) === ((true, null)))
    val expected = Map(
      910001L -> "rep_dup_line_frac",
      910002L -> "rep_dup_para_frac",
      910003L -> "rep_dup_line_char_frac",
      910004L -> "rep_top_2gram_char_frac",
      910005L -> "rep_dup_5gram_char_frac",
      910006L -> "rep_top_3gram_char_frac",
      910007L -> "rep_top_4gram_char_frac")
    expected.foreach { case (id, rule) =>
      assert(!got(id)._1, s"doc $id should fail")
      assert(got(id)._2 === rule, s"doc $id first_fail")
    }
  }

  /** Reference string-gram counting: the definition the kernel's
    * hash-based counting must reproduce exactly.
    */
  private def refRepStats(text: String): Seq[Long] = {
    val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def grams(n: Int): Seq[String] =
      if (ws.length < n) Seq.empty
      else (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
    val top = (2 to 4).map { n =>
      val g = grams(n)
      if (g.isEmpty) 0L
      else g.groupBy(identity).values
        .map(occ => occ.size.toLong * occ.head.length).max
    }
    val dup = (5 to 10).map { n =>
      grams(n).groupBy(identity).values.filter(_.size >= 2)
        .map(occ => occ.size.toLong * occ.head.length).sum
    }
    top ++ dup
  }

  test("K26 kernel counts equal string-gram counting on battery + corpus docs") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(40)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val docs = QualityRules.RepBatteryDocs ++ corpus
    val statCols = (2 to 4).map(n => s"top${n}_chars") ++
      (5 to 10).map(n => s"dup${n}_chars")
    val got = QualityRules
      .withRepetitionColumns(docs.toDF("doc_id", "text"), "text")
      .select((Seq("doc_id") ++ statCols).map(col): _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to 9).map(r.getLong).toSeq)
      .toMap
    docs.foreach { case (id, text) =>
      assert(got(id) === refRepStats(text), s"doc $id")
    }
  }

  test("SQL surface: gramrepstats64 registered and equal to the Column API") {
    val doc = "a b a b c d e f g h i j"
    val viaSql = spark.sql(s"SELECT gramrepstats64('$doc') AS s")
      .collect()(0).getSeq[Long](0)
    assert(viaSql === refRepStats(doc))
  }

  test("sentence count counts every terminal-punctuation char") {
    val row = QualityRules
      .withRuleColumns(Seq(1L -> "a. b! c? d... e").toDF("doc_id", "text"), "text")
      .select("n_sentences").collect()(0)
    assert(row.getLong(0) === 6L) // . ! ? plus the 3 ellipsis dots
  }

  // ---- H21: the FineWeb/DCLM line-level battery ---------------------

  private def fwRows(docs: Seq[(Long, String)]) =
    QualityRules.withFineWebColumns(docs.toDF("doc_id", "text"), "text")
      .select("doc_id", "fw_pass", "fw_first_fail")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) null else r.getString(2))))
      .toMap

  test("H21 battery docs fail with exactly their targeted first rule") {
    val got = fwRows(QualityRules.FwBatteryDocs)
    assert(got(920000L) === ((true, null)), "golden doc must pass all 4")
    val expected = Map(
      920001L -> "fineweb_term_punct_lines",
      920002L -> "fineweb_dup_line_chars",
      920003L -> "fineweb_short_lines",
      920004L -> "dclm_list_lines")
    expected.foreach { case (id, rule) =>
      val (pass, firstFail) = got(id)
      assert(!pass, s"doc $id should fail")
      assert(firstFail === rule, s"doc $id first_fail")
    }
  }

  test("H21 thresholds sit on exact integer boundaries") {
    def prose(k: Int) =
      s"the quick brown fox number $k jumps over the lazy dog tonight."
    // terminal-punct ratio: 3/25 = 0.12 is NOT > 0.12 → fail; 4/25 pass
    def termDoc(nTerm: Int) = ((0 until nTerm).map(prose) ++
      (0 until 25 - nTerm).map(k => prose(k + 50).dropRight(1))).mkString("\n")
    // short-line fraction: 67/100 fails (>= 0.67), 66/100 passes
    def shortDoc(nShort: Int) = ((0 until nShort).map(k => s"tiny line $k.") ++
      (0 until 100 - nShort).map(prose)).mkString("\n")
    // list-line ratio: 5/10 fails (>= 1/2), 4/10 passes
    def listDoc(nList: Int) = ((0 until nList).map(k =>
      s"- bullet item $k with plenty of words to cross thirty chars.") ++
      (0 until 10 - nList).map(prose)).mkString("\n")
    val got = fwRows(Seq(
      1L -> termDoc(3), 2L -> termDoc(4),
      3L -> shortDoc(67), 4L -> shortDoc(66),
      5L -> listDoc(5), 6L -> listDoc(4)))
    assert(got(1L)._2 === "fineweb_term_punct_lines")
    assert(got(2L)._1 === true)
    assert(got(3L)._2 === "fineweb_short_lines")
    assert(got(4L)._1 === true)
    assert(got(5L)._2 === "dclm_list_lines")
    assert(got(6L)._1 === true)
    // numbered lines ("1." / "2)") count as list-like, like bullets
    val numbered = (0 until 6).map(k =>
      s"$k. a numbered enumeration entry number $k for this check.") ++
      (0 until 4).map(prose)
    assert(fwRows(Seq(7L -> numbered.mkString("\n")))(7L)._2 === "dclm_list_lines")
    // empty lines never count: 5 prose lines + 5 blanks pass
    val blanky = ((0 until 5).map(prose) ++ Seq.fill(5)("")).mkString("\n")
    assert(fwRows(Seq(8L -> blanky))(8L)._1 === true)
  }

  test("H21 streaming gate keeps exactly the fw_pass docs (batch parity)") {
    val docs = QualityRules.FwBatteryDocs.toDF("doc_id", "text")
    val kept = graft.streaming.AdsbStream
      .fineWebGateStream(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(920000L))
  }
}
