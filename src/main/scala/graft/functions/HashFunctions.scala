package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernel shared by the Catalyst expression and tests.
  *
  * `md5Prefix64(s)` = first 15 hex chars of md5(utf8(s)) parsed as a
  * base-16 long (60 bits, always non-negative). The same value is
  * expressible in any SQL engine with an md5 function — e.g.
  * DuckDB `('0x' || substr(md5(s), 1, 15))::BIGINT` or Spark SQL
  * `conv(substring(md5(s), 1, 15), 16, 10)` — which is what makes
  * the MinHash/SimHash/LSH operators reproducible across engines.
  */
object HashUtil {
  /** Modulus of the universal-hash family (prime, fits seeded products in i64). */
  final val P: Long = 1000000007L

  // MessageDigest.getInstance is surprisingly expensive (provider
  // lookup + allocation); at millions of hash calls per task it
  // dominates. One digest per thread, reset between uses.
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Prefix64(s: UTF8String): Long = {
    val md = localMd.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // First 15 hex chars = 7 full bytes + the high nibble of the 8th.
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Universal-hash family over the md5 base: (a*(base mod P)+b) mod P. */
  def affine(base: Long, a: Long, b: Long): Long = (a * (base % P) + b) % P

  /** Driver-side md5Prefix64 of a plain string (for precomputing
    * constants like LSH hyperplanes — same value as the expression).
    */
  def md5Prefix64(s: String): Long =
    md5Prefix64(UTF8String.fromString(s))

  /** Winnowing step-2 kernel for [[graft.functions.SlidingMinDistinct64]]:
    * first-occurrence-ordered distinct minima of every w-window over a
    * long array, windows clamped at the array end (out-of-range
    * positions contribute nothing) — exactly the null-padded
    * slice/zip_with/least composition it replaces. Empty in → empty
    * out. O(n·w) in compiled code with one HashSet, no per-window
    * array allocation.
    */
  def slidingMinDistinct(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                         w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.emptyLongArray)
    val len = math.max(n - (w - 1), 1)
    val out = new Array[Long](len)
    val seen = new java.util.HashSet[java.lang.Long](len * 2)
    var m = 0
    var j = 0
    while (j < len) {
      var mn = Long.MaxValue
      var i = j
      val end = math.min(j + w, n)
      while (i < end) { val v = arr.getLong(i); if (v < mn) mn = v; i += 1 }
      if (seen.add(mn)) { out(m) = mn; m += 1 }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(out, m))
  }

  /** One-permutation MinHash slot minima + rotation densification
    * (K23, for [[graft.functions.OphSlotMins]]): one pass over the
    * shingle-hash array routing each h to slot (h mod k) keeping the
    * min; empty slots then borrow the value of the nearest non-empty
    * slot circularly RIGHTWARD — the same selection as
    * `argmin_{entries} ((bkt - b) mod k)`, so the kernel is
    * bit-identical to the exploded groupBy + array_sort spelling
    * (spec-pinned). Duplicate hashes are harmless (min over multiset
    * ≡ min over set). Empty input → empty array: callers filter
    * zero-shingle docs, mirroring minhashBandsRowLocal's drop.
    */
  def ophSlotMins(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                  k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.emptyLongArray)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      val b = (((h % k) + k) % k).toInt  // shingle hashes are >= 0, but stay total
      if (h < mins(b)) mins(b) = h
      i += 1
    }
    val out = new Array[Long](k)
    var b = 0
    while (b < k) {
      if (mins(b) != Long.MaxValue) out(b) = mins(b)
      else {
        var d = 1
        while (mins((b + d) % k) == Long.MaxValue) d += 1
        out(b) = mins((b + d) % k)
      }
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Polynomial base of the rolling gram hash (a classic small odd
    * base). Invariant the arithmetic relies on: code points are
    * stored RAW (not pre-reduced) — correctness holds because the
    * max code point 0x10FFFF < P, so the Horner accumulator stays
    * < P and every product acc·B + cp < P·B + P ≈ 2^37 fits i64;
    * the rolling-subtraction term reduces cp·B^(k-1) mod P as it
    * goes (powers are pre-reduced), keeping that product < P·P ≈
    * 2^60 < 2^63 as well.
    */
  final val RollB: Long = 131L

  /** TRUE rolling k-gram hash for [[graft.functions.RollingGramHashes64]]:
    * Horner hashes h_i = Σ_t cp(s[i+t])·B^(k−1−t) mod P over CODE
    * POINTS, computed with the Rabin–Karp recurrence — O(n) total
    * arithmetic where the md5-per-position spelling
    * ([[gramHashes]]) pays a full digest per position (O(n·k) digest
    * work; it remains for callers that need the md5 gram space).
    * Clamping matches [[gramHashes]]: a string shorter than k yields
    * ONE hash of the whole string; the empty string hashes to 0
    * (Horner over zero points). SQL-reproducible as
    * `list_reduce(cps[i:i+k-1], (a,b) -> (a*B + b) % P)` over
    * `ord(substr(s,i,1))` code points — a left Horner fold, like
    * every other cross-engine hash here.
    */
  def rollingGramHashes(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val len = str.length
    val cps = new Array[Long](len) // ≥ #code points
    var n = 0
    var idx = 0
    while (idx < len) {
      val cp = str.codePointAt(idx)
      cps(n) = cp.toLong
      n += 1
      idx += Character.charCount(cp)
    }
    val P = HashUtil.P
    val B = RollB
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) { h = (h * B + cps(i)) % P; i += 1 }
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(h))
    }
    val m = n - k + 1
    val out = new Array[Long](m)
    var bk = 1L // B^(k-1) mod P
    var t = 0
    while (t < k - 1) { bk = (bk * B) % P; t += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % P; i += 1 }
    out(0) = h
    var j = 1
    while (j < m) {
      h = ((h - (cps(j - 1) % P) * bk) % P + P) % P
      h = (h * B + cps(j + k - 1)) % P
      out(j) = h
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Tokenize→shingle→hash kernel for
    * [[graft.functions.TokenShingleHashes64]]: first-occurrence-ordered
    * DISTINCT md5-prefix hashes of the word n-gram shingles of
    * lowercased, whitespace-split `s` — byte-for-byte the hashes of
    * `array_distinct(transform(shinglesFromTokens(tokens(s), n),
    * md5prefix64))` (lowercase via UTF8String like Spark's `lower`,
    * split via the same \s+ regex, windows clamped at the end, a
    * shorter-than-n doc yielding one whole-text shingle, the empty
    * doc hashing ""). One compiled pass, no per-shingle Catalyst
    * eval machinery or intermediate arrays.
    */
  def tokenShingleHashes(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks0 = Whitespace.split(s.toLowerCase.toString)
    // java split emits a leading "" for leading whitespace; the
    // composed spelling filters empties the same way
    var nt = 0
    val toks = new Array[String](toks0.length)
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(nt) = toks0(i); nt += 1 }
      i += 1
    }
    val m = math.max(nt - n, 0)
    val out = new Array[Long](m + 1)
    val seen = new java.util.HashSet[java.lang.Long]((m + 1) * 2)
    val sb = new java.lang.StringBuilder
    var k = 0
    var j = 0
    while (j <= m) {
      sb.setLength(0)
      val end = math.min(j + n, nt)
      var t = j
      while (t < end) {
        if (t > j) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      val h = md5Prefix64(UTF8String.fromString(sb.toString))
      if (seen.add(h)) { out(k) = h; k += 1 }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(out, k))
  }

  /** Second modulus of the double rolling token-window hash (the NTT
    * prime 998244353). Two independent ~30-bit Rabin–Karp streams
    * combined as h1·P2+h2 give a ~60-bit key: collision odds for W
    * windows ≈ W²/(2·P·P2) ≈ 10⁻⁵ at a million windows — the same
    * class as the 60-bit md5-prefix keys the exact-dedup family
    * already rides on, at O(n) arithmetic instead of O(n·k) digest
    * bytes.
    */
  final val RollP2: Long = 998244353L

  /** Positioned stride-1 token-window hash kernel for
    * [[graft.functions.TokenWindowHashes64]] — the fingerprint stage
    * of exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): out(i) = hash of
    * tokens[i..i+k-1], for EVERY start position i (stride 1, so a
    * repeated span is caught at ANY offset — the alignment blindness
    * of fixed-chunk F8 is exactly what this removes). Tokenization
    * matches the suite contract (UTF8String lowercase, \s+ split,
    * empties dropped). Hashing is the double Rabin–Karp above: each
    * token's 60-bit md5-prefix hash reduces mod P and mod
    * [[RollP2]]; both streams run the [[rollingGramHashes]] Horner
    * recurrence (base [[RollB]]; products bounded < P² ≈ 2⁶⁰ — the
    * pre-reduction is what buys that bound, token hashes being ≥ P
    * unlike code points); out = h1·P2 + h2 < P·P2 ≈ 10¹⁸ fits
    * BIGINT in any engine. SQL-reproducible per window as two
    * `list_reduce` Horner folds over the pre-reduced token-hash
    * lists (the seed element equals Horner-from-0 because elements
    * are < modulus). A doc with fewer than k tokens emits NO windows
    * (spans shorter than the dedup threshold are doc-level dedup's
    * job, not substring dedup's — per the paper's ≥50-token rule).
    */
  /** All nine Gopher-repetition n-gram statistics in ONE compiled
    * pass (K26 — the h18 kernel): tokenize once, hash and measure
    * each token once, then per n ∈ 2..10 roll the F14 double
    * Rabin–Karp window hash and count occurrences in an
    * open-addressing long map. Returns long[9]:
    * indices 0..2 = top-{2,3,4}-gram char mass (max over distinct
    * grams of count·charlen), 3..8 = dup-{5..10}-gram char mass
    * (Σ count·charlen over grams occurring ≥ 2). Gram char length =
    * Σ token lens + (n−1) separators — the length of the
    * single-space-joined gram string, from a token-length prefix
    * array. Gram identity is the ~60-bit window hash (a collision
    * would fail the string-counting oracle, same contract as F14).
    * Replaces 9 interpreted O(words²) HOF count passes per row —
    * measured 35.7 s → sub-second per 5k docs at sf0.1.
    */
  def gramRepStats(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks0 = Whitespace.split(s.toLowerCase.toString)
    var nt = 0
    val toks = new Array[String](toks0.length)
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(nt) = toks0(i); nt += 1 }
      i += 1
    }
    val out = new Array[Long](9)
    if (nt >= 2) {
      val P1 = HashUtil.P
      val P2 = RollP2
      val B = RollB
      val t1 = new Array[Long](nt)
      val t2 = new Array[Long](nt)
      val plen = new Array[Long](nt + 1)
      i = 0
      while (i < nt) {
        val h = md5Prefix64(UTF8String.fromString(toks(i)))
        t1(i) = h % P1
        t2(i) = h % P2
        plen(i + 1) = plen(i) + toks(i).length
        i += 1
      }
      var n = 2
      while (n <= 10 && n <= nt) {
        val m = nt - n + 1
        // rolling double hash over windows of n tokens
        val wh = new Array[Long](m)
        var bk1 = 1L; var bk2 = 1L; var t = 0
        while (t < n - 1) { bk1 = (bk1 * B) % P1; bk2 = (bk2 * B) % P2; t += 1 }
        var h1 = 0L; var h2 = 0L
        i = 0
        while (i < n) { h1 = (h1 * B + t1(i)) % P1; h2 = (h2 * B + t2(i)) % P2; i += 1 }
        wh(0) = h1 * P2 + h2
        var j = 1
        while (j < m) {
          h1 = ((h1 - t1(j - 1) * bk1) % P1 + P1) % P1
          h1 = (h1 * B + t1(j + n - 1)) % P1
          h2 = ((h2 - t2(j - 1) * bk2) % P2 + P2) % P2
          h2 = (h2 * B + t2(j + n - 1)) % P2
          wh(j) = h1 * P2 + h2
          j += 1
        }
        // open-addressing count map (keys are ≥ 0; -1 = empty slot)
        var cap = 4
        while (cap < 2 * m) cap <<= 1
        val keys = new Array[Long](cap)
        java.util.Arrays.fill(keys, -1L)
        val cnts = new Array[Long](cap)
        val lens = new Array[Long](cap)
        j = 0
        while (j < m) {
          val key = wh(j)
          var slot = (java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & (cap - 1))
          while (keys(slot) != -1L && keys(slot) != key) slot = (slot + 1) & (cap - 1)
          if (keys(slot) == -1L) {
            keys(slot) = key
            lens(slot) = plen(j + n) - plen(j) + (n - 1)
          }
          cnts(slot) += 1L
          j += 1
        }
        var stat = 0L
        var sl = 0
        if (n <= 4) {
          while (sl < cap) {
            if (keys(sl) != -1L) {
              val v = cnts(sl) * lens(sl)
              if (v > stat) stat = v
            }
            sl += 1
          }
          out(n - 2) = stat
        } else {
          while (sl < cap) {
            if (keys(sl) != -1L && cnts(sl) >= 2L) stat += cnts(sl) * lens(sl)
            sl += 1
          }
          out(n - 5 + 3) = stat
        }
        n += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Per-document DISTINCT bigram counts in ONE compiled pass (K27 —
    * the h16/h19 kernel): tokenize once (UTF8String lowercase, \s+
    * split, empties dropped — the suite's tokenizer contract), count
    * adjacent token pairs in an open-addressing map, emit
    * struct(w1, w2, c) per distinct bigram in first-occurrence
    * order. Replaces the transform(sequence)+explode spelling that
    * materialized one row PER OCCURRENCE: downstream shuffles (the
    * c12/c1 model aggregations, the per-doc NLL join) now run at
    * (doc, distinct bigram) grain with a count column — on
    * boilerplate-heavy corpora the occurrence/distinct ratio is the
    * shuffle-volume saving. Identity is EXACT (probes compare the
    * token strings after the cheap slot hash, so a hash collision
    * costs a probe, never a merged count) — no collision caveat,
    * unlike the ~60-bit fingerprint kernels. A doc with < 2 tokens
    * emits an empty array.
    */
  def bigramCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks0 = Whitespace.split(s.toLowerCase.toString)
    var nt = 0
    val toks = new Array[String](toks0.length)
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(nt) = toks0(i); nt += 1 }
      i += 1
    }
    val m = nt - 1
    if (m < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val th = new Array[Int](nt)
    i = 0
    while (i < nt) { th(i) = toks(i).hashCode; i += 1 }
    var cap = 4
    while (cap < 2 * m) cap <<= 1
    val mask = cap - 1
    val slotPos = new Array[Int](cap) // bigram start index of first occurrence
    java.util.Arrays.fill(slotPos, -1)
    val slotCnt = new Array[Long](cap)
    val order = new Array[Int](cap)   // slots in first-occurrence order
    var nSlots = 0
    var j = 0
    while (j < m) {
      val h = th(j) * 0x9e3779b97f4a7c15L + th(j + 1)
      var k = (java.lang.Long.hashCode(h * 0x9e3779b97f4a7c15L)) & mask
      var placed = false
      while (!placed) {
        val p = slotPos(k)
        if (p < 0) {
          slotPos(k) = j; slotCnt(k) = 1L
          order(nSlots) = k; nSlots += 1; placed = true
        } else if (toks(p) == toks(j) && toks(p + 1) == toks(j + 1)) {
          slotCnt(k) += 1L; placed = true
        } else k = (k + 1) & mask
      }
      j += 1
    }
    val rows = new Array[Any](nSlots)
    i = 0
    while (i < nSlots) {
      val k = order(i)
      val p = slotPos(k)
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(toks(p)),
          UTF8String.fromString(toks(p + 1)), slotCnt(k)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Per-document DISTINCT token counts in ONE compiled pass (K28 —
    * [[bigramCounts]]'s unigram sibling, for the h7/h8/p7/p14 token
    * frame): tokenize once, count tokens in an open-addressing map
    * with EXACT string-confirmed identity, emit struct(w, c) per
    * distinct token in first-occurrence order. Downstream frequency
    * aggregations and per-doc scores run count-weighted at
    * (doc, distinct token) grain — fact rows scale with per-doc
    * VOCABULARY, not document length. Empty/whitespace-only docs
    * emit an empty array.
    */
  def tokenCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks0 = Whitespace.split(s.toLowerCase.toString)
    var nt = 0
    val toks = new Array[String](toks0.length)
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(nt) = toks0(i); nt += 1 }
      i += 1
    }
    if (nt == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    var cap = 4
    while (cap < 2 * nt) cap <<= 1
    val mask = cap - 1
    val slotPos = new Array[Int](cap)
    java.util.Arrays.fill(slotPos, -1)
    val slotCnt = new Array[Long](cap)
    val order = new Array[Int](cap)
    var nSlots = 0
    var j = 0
    while (j < nt) {
      var k = (java.lang.Long.hashCode(
        toks(j).hashCode * 0x9e3779b97f4a7c15L)) & mask
      var placed = false
      while (!placed) {
        val p = slotPos(k)
        if (p < 0) {
          slotPos(k) = j; slotCnt(k) = 1L
          order(nSlots) = k; nSlots += 1; placed = true
        } else if (toks(p) == toks(j)) {
          slotCnt(k) += 1L; placed = true
        } else k = (k + 1) & mask
      }
      j += 1
    }
    val rows = new Array[Any](nSlots)
    i = 0
    while (i < nSlots) {
      val k = order(i)
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(toks(slotPos(k))), slotCnt(k)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  def tokenWindowHashes(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks0 = Whitespace.split(s.toLowerCase.toString)
    var nt = 0
    val toks = new Array[String](toks0.length)
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(nt) = toks0(i); nt += 1 }
      i += 1
    }
    if (nt < k)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.emptyLongArray)
    val P1 = HashUtil.P
    val P2 = RollP2
    val B = RollB
    val t1 = new Array[Long](nt)
    val t2 = new Array[Long](nt)
    i = 0
    while (i < nt) {
      val h = md5Prefix64(UTF8String.fromString(toks(i)))
      t1(i) = h % P1
      t2(i) = h % P2
      i += 1
    }
    val m = nt - k + 1
    val out = new Array[Long](m)
    var bk1 = 1L
    var bk2 = 1L
    var t = 0
    while (t < k - 1) { bk1 = (bk1 * B) % P1; bk2 = (bk2 * B) % P2; t += 1 }
    var h1 = 0L
    var h2 = 0L
    i = 0
    while (i < k) { h1 = (h1 * B + t1(i)) % P1; h2 = (h2 * B + t2(i)) % P2; i += 1 }
    out(0) = h1 * P2 + h2
    var j = 1
    while (j < m) {
      h1 = ((h1 - t1(j - 1) * bk1) % P1 + P1) % P1
      h1 = (h1 * B + t1(j + k - 1)) % P1
      h2 = ((h2 - t2(j - 1) * bk2) % P2 + P2) % P2
      h2 = (h2 * B + t2(j + k - 1)) % P2
      out(j) = h1 * P2 + h2
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Positioned window hashes at NESTED doubling window sizes
    * (k0, 2·k0, 4·k0, …) in ONE row-local pass — the f14c one-scan
    * fold (the e14f grid-in-sketch-space treatment applied to
    * exact-substring sizing). The k0 level is [[tokenWindowHashes]]'
    * double Rabin–Karp verbatim except the two prime streams are
    * kept SEPARATE through the fold; each wider level composes per
    * prime by the polynomial-hash identity
    * h_2k(p) = (h_k(p)·B^k + h_k(p+k)) mod P, so every level is
    * bit-identical to the direct k-window hash (the Horner fold over
    * 2k tokens splits exactly at token k) — spec-pinned. Products
    * stay < 2⁶⁰ (both operands < 2³⁰). The combined h = h1·P2 + h2
    * recomposes only at emit, exactly like the direct kernel.
    *
    * Output: struct rows (k, pos, h), level-major then position —
    * one array a query explodes once, replacing one corpus scan +
    * tokenize + hash PER window size with one scan total. A level
    * with no windows (doc shorter than its k) emits nothing, same
    * as the direct kernel's empty array.
    */
  def tokenWindowHashGrid(s: UTF8String, k0: Int, levels: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks0 = Whitespace.split(s.toLowerCase.toString)
    var nt = 0
    val toks = new Array[String](toks0.length)
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(nt) = toks0(i); nt += 1 }
      i += 1
    }
    if (nt < k0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val P1 = HashUtil.P
    val P2 = RollP2
    val B = RollB
    val t1 = new Array[Long](nt)
    val t2 = new Array[Long](nt)
    i = 0
    while (i < nt) {
      val h = md5Prefix64(UTF8String.fromString(toks(i)))
      t1(i) = h % P1
      t2(i) = h % P2
      i += 1
    }
    // level 0: rolling k0-window streams, primes separate
    var m = nt - k0 + 1
    var a1 = new Array[Long](m)
    var a2 = new Array[Long](m)
    var bk1 = 1L
    var bk2 = 1L
    var t = 0
    while (t < k0 - 1) { bk1 = (bk1 * B) % P1; bk2 = (bk2 * B) % P2; t += 1 }
    var h1 = 0L
    var h2 = 0L
    i = 0
    while (i < k0) { h1 = (h1 * B + t1(i)) % P1; h2 = (h2 * B + t2(i)) % P2; i += 1 }
    a1(0) = h1; a2(0) = h2
    var j = 1
    while (j < m) {
      h1 = ((h1 - t1(j - 1) * bk1) % P1 + P1) % P1
      h1 = (h1 * B + t1(j + k0 - 1)) % P1
      h2 = ((h2 - t2(j - 1) * bk2) % P2 + P2) % P2
      h2 = (h2 * B + t2(j + k0 - 1)) % P2
      a1(j) = h1; a2(j) = h2
      j += 1
    }
    val buf = new scala.collection.mutable.ArrayBuffer[Any](levels * m)
    var k = k0
    var lvl = 0
    while (lvl < levels && m >= 1) {
      j = 0
      while (j < m) {
        buf += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](k, j, a1(j) * P2 + a2(j)))
        j += 1
      }
      lvl += 1
      if (lvl < levels) {
        // compose k → 2k per prime: B^k mod P from repeated squaring
        // of literals is overkill at these sizes — a k-step product
        // stays exact and runs once per level per row
        var pk1 = 1L
        var pk2 = 1L
        t = 0
        while (t < k) { pk1 = (pk1 * B) % P1; pk2 = (pk2 * B) % P2; t += 1 }
        val m2 = m - k
        if (m2 >= 1) {
          val n1 = new Array[Long](m2)
          val n2 = new Array[Long](m2)
          j = 0
          while (j < m2) {
            n1(j) = (a1(j) * pk1 + a1(j + k)) % P1
            n2(j) = (a2(j) * pk2 + a2(j + k)) % P2
            j += 1
          }
          a1 = n1; a2 = n2
        }
        m = m2
        k = k * 2
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
  }

  /** Fused tokenize→hash→SimHash kernel for
    * [[graft.functions.SimHash32]]: one pass over the lowercased
    * whitespace tokens of `s`; each token's 32-bit hash
    * (md5Prefix64 mod 2³²) votes ±1 per bit position, the sign
    * pattern recomposes the fingerprint. Byte-equal to the composed
    * spelling (32 separate `aggregate` folds over a materialized
    * token-hash array — 32 interpreted array traversals per row,
    * which this replaces with one compiled loop). A token-less doc
    * fingerprints to 0, like the composed version.
    */
  def simhash32(s: UTF8String): Long = {
    val toks = Whitespace.split(s.toLowerCase.toString)
    val counts = new Array[Int](32)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        val h = md5Prefix64(UTF8String.fromString(t)) % 4294967296L
        var b = 0
        while (b < 32) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Fused 64-bit SimHash kernel for [[graft.functions.SimHash64]] —
    * the scale-safe fingerprint behind the banded Hamming LSH
    * (graft.operators.Dedup.simhashPairs). Same one-pass vote loop as
    * [[simhash32]], but each token contributes 64 bit votes drawn
    * from TWO 60-bit md5-prefix pieces (hex chars 1-15 and 16-30 of
    * the digest): fingerprint bits 0..59 are voted by the bits of
    * piece 1, bits 60..63 by the low 4 bits of piece 2. Both pieces
    * are ≤60 bits so each is reproducible in any SQL engine as a
    * signed-BIGINT hex cast (a raw 16-hex-char piece can exceed
    * 2^63−1 and overflow the cast — that is why the token hash is
    * split rather than widened). Bit 63 of the fingerprint is the
    * sign bit; identical two's-complement recompose on the oracle
    * side keeps the comparison exact. A token-less doc fingerprints
    * to 0.
    */
  def simhash64(s: UTF8String): Long = {
    val toks = Whitespace.split(s.toLowerCase.toString)
    val counts = new Array[Int](64)
    val md = localMd.get()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        md.reset()
        val d = md.digest(UTF8String.fromString(t).getBytes)
        // piece 1: hex chars 1..15 = bytes 0..6 + high nibble of byte 7
        var h1 = 0L
        var j = 0
        while (j < 7) { h1 = (h1 << 8) | (d(j) & 0xffL); j += 1 }
        h1 = (h1 << 4) | ((d(7) & 0xf0L) >> 4)
        // piece 2: hex chars 16..30 = low nibble of byte 7 + bytes 8..14
        var h2 = d(7) & 0x0fL
        j = 8
        while (j < 15) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
        var b = 0
        while (b < 60) {
          if (((h1 >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        while (b < 64) {
          if (((h2 >> (b - 60)) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Rolling k-gram kernel for [[graft.functions.GramHashes64]]:
    * hashes of every k-char substring, mod P, as Spark ArrayData.
    * Character-based indexing (UTF8String.substringSQL), matching SQL
    * `substr`; a string shorter than k yields one hash of the whole
    * string (SQL substr clamps the same way).
    */
  def gramHashes(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = s.numChars()
    val out = new Array[Long](math.max(n - k + 1, 1))
    var i = 0
    while (i < out.length) {
      out(i) = md5Prefix64(s.substringSQL(i + 1, k)) % P
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** (n_chars, n_distinct, entropy) over code points — see
    * [[CharEntropy]] for the exactness contract (per-char terms
    * quantized to micros, summed as exact longs).
    */
  def charEntropy(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    val counts = new java.util.HashMap[Integer, Integer]()
    var n = 0L
    var idx = 0
    while (idx < len) {
      val cp = str.codePointAt(idx)
      counts.merge(cp, 1, (a, b) => a + b)
      n += 1L
      idx += Character.charCount(cp)
    }
    var micros = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().doubleValue() / n
      val t = -(p * java.lang.Math.log(p))
      micros += java.lang.Math.floor(t * 1e6 + 0.5).toLong
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, counts.size(), micros.toDouble / 1e6))
  }
}

/** Codegen'd 60-bit md5-prefix hash of a string column.
  *
  * The shingle/token hash of the MinHash, SimHash and LSH operators
  * (graft.operators.Dedup / Embeddings). A native Expression rather
  * than a UDF so it stays inside whole-stage codegen.
  */
case class Md5Prefix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.md5Prefix64(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.md5Prefix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

/** Rolling k-gram hash array: `[md5prefix64(s[i..i+k)) mod P]` for
  * every character position — the whole winnowing step-1 loop as ONE
  * native kernel. The composed spelling (`transform(sequence(...),
  * i => Md5Prefix64(substr(...)))`) evaluates an interpreted lambda
  * per position, allocating a per-element substring Column eval path;
  * this expression runs the loop in compiled Java over the UTF8String
  * (character-based substrings, same as SQL `substr`, so the DuckDB
  * oracle is unchanged). Short strings (< k chars) yield one hash of
  * the whole string — the same clamping the composed version and the
  * oracle produce.
  */
case class GramHashes64(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"gram size must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.gramHashes(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.gramHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes64 =
    copy(child = newChild)
}

/** The whole tokenize→shingle→hash→distinct pipeline of the dedup
  * family as one native kernel — see [[HashUtil.tokenShingleHashes]].
  */
case class TokenShingleHashes64(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.tokenShingleHashes(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.tokenShingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenShingleHashes64 =
    copy(child = newChild)
}

/** OPH slot minima + rotation densification as one native kernel
  * (K23) — see [[HashUtil.ophSlotMins]]. Replaces a per-(doc, slot)
  * groupBy + collect_list + per-slot array_sort composition (two
  * aggregations and k interpreted sorts per doc) with one compiled
  * pass over the shingle-hash array.
  */
case class OphSlotMins(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"slot count must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.ophSlotMins(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.ophSlotMins($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): OphSlotMins =
    copy(child = newChild)
}

/** Winnowing's sliding-window-minimum fingerprint selection as one
  * native kernel — see [[HashUtil.slidingMinDistinct]]. Replaces a
  * `slice`/`zip_with`/`least`/`array_distinct` composition that
  * evaluated interpreted lambdas and allocated w arrays per row.
  */
case class SlidingMinDistinct64(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"window must be >= 1, got $w")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.slidingMinDistinct(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.slidingMinDistinct($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): SlidingMinDistinct64 =
    copy(child = newChild)
}

/** The whole per-document SimHash pipeline as one native kernel —
  * see [[HashUtil.simhash32]].
  */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.simhash32(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.simhash32($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** Fused multi-pattern count-and-redact over one materialized string
  * (K16) — the PII-redaction shape: per pattern, the match count
  * against the ORIGINAL text, then the replacements applied
  * SEQUENTIALLY (pass i+1 sees pass i's output) — exactly the
  * semantics of a `regexp_count` column per pattern plus a chained
  * `regexp_replace`, which cost 2·N regex passes with a UTF8String →
  * String conversion and result materialization EACH; this runs all
  * of it against one String with the same java.util.regex engine, so
  * results are identical byte for byte. Returns
  * struct(counts: array<int>, red: string).
  */
case class RegexRedactStats(child: Expression, patterns: Seq[String],
                            replacements: Seq[String]) extends UnaryExpression {
  require(patterns.nonEmpty && patterns.length == replacements.length,
    "patterns and replacements must pair up")

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("counts",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false),
      nullable = false),
    org.apache.spark.sql.types.StructField("red",
      org.apache.spark.sql.types.StringType, nullable = false)))

  @transient private lazy val compiled =
    patterns.map(java.util.regex.Pattern.compile).toArray

  /** Public: invoked from generated code via an object reference. */
  def redact(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = v.toString
    val counts = new Array[Int](compiled.length)
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      var c = 0
      while (m.find()) c += 1
      counts(i) = c
      i += 1
    }
    var cur = s
    i = 0
    while (i < compiled.length) {
      cur = compiled(i).matcher(cur).replaceAll(replacements(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(counts),
      UTF8String.fromString(cur)))
  }

  override def nullSafeEval(v: Any): Any = redact(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("redactor", this, classOf[RegexRedactStats].getName)
    defineCodeGen(ctx, ev, c => s"$ref.redact($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexRedactStats =
    copy(child = newChild)
}

/** The hashed-linear-classifier document score as one native kernel
  * (K24): lowercase, whitespace-tokenize, and sum
  * weights[md5prefix64(token) mod k] in a single compiled pass —
  * bit-identical (spec-pinned) to the HOF spelling
  * `aggregate(tokens(text), 0L, (acc, w) -> acc + element_at(...))`,
  * whose lambda evaluates INTERPRETED per token inside the otherwise
  * codegen'd stage. Returns struct(n_tokens: bigint, score: bigint)
  * so consumers (h14 gate, J13 stream gate, p19 datasheet) also drop
  * their separate `size(split(...))` pass.
  */
case class LinearClassifierScore(child: Expression, weights: Seq[Long])
    extends UnaryExpression {
  require(weights.nonEmpty, "weight vector must be non-empty")

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.LongType, nullable = false)))

  @transient private lazy val w: Array[Long] = weights.toArray

  /** Public: invoked from generated code via an object reference. */
  def score(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    // parity contract with filter(split(lower(text), "\s+"), _ != ""):
    // UTF8String lowercase (what Spark's lower() does), the same
    // regex split, empties dropped
    val parts = v.toLowerCase.toString.split("\\s+")
    var n = 0L
    var s = 0L
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (!t.isEmpty) {
        n += 1
        val h = HashUtil.md5Prefix64(UTF8String.fromString(t))
        s += w((h % w.length).toInt)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, s))
  }

  override def nullSafeEval(v: Any): Any = score(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("classifier", this,
      classOf[LinearClassifierScore].getName)
    defineCodeGen(ctx, ev, c => s"$ref.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LinearClassifierScore =
    copy(child = newChild)
}

/** Multiclass hashed char-n-gram language scores as ONE native kernel
  * (K29) — the serving pass of the H20 trained language classifier
  * (the fasttext-shaped stage CCNet/C4 run; Wenzek et al. 2020 §3.2,
  * Joulin et al. 2017 model family): SQL-substr-equivalent n-grams of
  * the LOWERCASED text (clamped like [[GramHashes64]]: a shorter-than-n
  * text yields one whole-text gram, so no doc is scoreless), bucket =
  * md5prefix64(gram) mod k, and the L per-language Naive-Bayes
  * log-likelihood dot products scores[l] = Σ weights(l)(bucket) — all
  * computed in one compiled pass over the UTF8String. The composed
  * spelling (a transform+substr bucket array plus L interpreted
  * `aggregate` folds) evaluates an interpreted lambda per gram PER
  * LANGUAGE; this walks the grams once and updates all L integer
  * scores per gram. Weights are integer-micro NB log-likelihoods
  * (driver literals — the trained-model-as-literal contract of
  * K24/G7b), so each score is an exact BIGINT and the downstream
  * argmax is engine-portable. Returns struct(n_grams, scores).
  */
case class LangGramScores(child: Expression, weights: Seq[Seq[Long]], n: Int)
    extends UnaryExpression {
  require(n >= 1, s"gram size must be >= 1, got $n")
  require(weights.nonEmpty && weights.forall(_.length == weights.head.length)
    && weights.head.nonEmpty, "weights must be a non-empty rectangular L x k matrix")

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_grams",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("scores",
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false),
      nullable = false)))

  @transient private lazy val w: Array[Array[Long]] = weights.map(_.toArray).toArray

  /** Public: invoked from generated code via an object reference. */
  def score(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = v.toLowerCase // parity with lower(text), same as K24
    val k = w(0).length
    val nl = w.length
    val m = math.max(s.numChars() - n + 1, 1)
    val scores = new Array[Long](nl)
    var i = 0
    while (i < m) {
      val b = (HashUtil.md5Prefix64(s.substringSQL(i + 1, n)) % k).toInt
      var l = 0
      while (l < nl) { scores(l) += w(l)(b); l += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      m.toLong, org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(scores)))
  }

  override def nullSafeEval(v: Any): Any = score(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langScorer", this, classOf[LangGramScores].getName)
    defineCodeGen(ctx, ev, c => s"$ref.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LangGramScores =
    copy(child = newChild)
}

/** True O(n) rolling k-gram hash (Rabin–Karp over code points) — see
  * [[HashUtil.rollingGramHashes]].
  */
case class RollingGramHashes64(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"gram size must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.rollingGramHashes(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.rollingGramHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): RollingGramHashes64 =
    copy(child = newChild)
}

/** The nine Gopher-repetition n-gram statistics as one compiled pass
  * (K26) — see [[HashUtil.gramRepStats]].
  */
case class GramRepStats64(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.gramRepStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.gramRepStats($c)")

  override protected def withNewChildInternal(newChild: Expression): GramRepStats64 =
    copy(child = newChild)
}

/** Per-document distinct bigram counts, one compiled pass (K27) —
  * see [[HashUtil.bigramCounts]].
  */
case class BigramCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = {
    import org.apache.spark.sql.types._
    ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)
  }

  override def nullSafeEval(v: Any): Any =
    HashUtil.bigramCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.bigramCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramCounts =
    copy(child = newChild)
}

/** Per-document distinct token counts, one compiled pass (K28) —
  * see [[HashUtil.tokenCounts]].
  */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = {
    import org.apache.spark.sql.types._
    ArrayType(StructType(Seq(
      StructField("w", StringType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)
  }

  override def nullSafeEval(v: Any): Any =
    HashUtil.tokenCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.tokenCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

/** Positioned stride-1 token-window hashes (double Rabin–Karp) — the
  * exact-substring-dedup fingerprint stage; see
  * [[HashUtil.tokenWindowHashes]].
  */
case class TokenWindowHashes64(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"window size must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    HashUtil.tokenWindowHashes(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.tokenWindowHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashes64 =
    copy(child = newChild)
}

/** Positioned window hashes at nested doubling window sizes
  * (k0, 2k0, …) in one compiled pass — see
  * [[HashUtil.tokenWindowHashGrid]] (the f14c one-scan fold). Each
  * level is bit-identical to [[TokenWindowHashes64]] at that k.
  */
case class TokenWindowHashGrid(child: Expression, k0: Int, levels: Int)
    extends UnaryExpression {
  require(k0 >= 1, s"base window size must be >= 1, got $k0")
  require(levels >= 1, s"levels must be >= 1, got $levels")
  override def dataType: DataType = {
    import org.apache.spark.sql.types._
    ArrayType(StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)
  }

  override def nullSafeEval(v: Any): Any =
    HashUtil.tokenWindowHashGrid(v.asInstanceOf[UTF8String], k0, levels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.tokenWindowHashGrid($c, $k0, $levels)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashGrid =
    copy(child = newChild)
}

/** The 64-bit per-document SimHash pipeline as one native kernel —
  * see [[HashUtil.simhash64]].
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.simhash64(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Per-document character-distribution statistics in ONE row-local
  * pass (K19): code-point count, distinct code points, and Shannon
  * entropy of the character distribution — the H-family quality
  * signal that flags keyboard-mash / repeated-char / low-diversity
  * documents (low entropy) without exploding the corpus into a
  * per-character shuffle (at 100 TB a char-level explode is ~10¹⁴
  * rows; this kernel keeps the whole computation inside the scan).
  *
  * Cross-engine exactness: each distinct code point's term
  * −(p·ln p) is quantized to 6 dp via the tie-stable
  * floor(t·1e6 + 0.5) and accumulated as exact integer MICROS, so
  * the sum is order-independent (iteration order of the count map
  * cannot matter) and the DuckDB mirror (`SUM(BIGINT)/1e6` over the
  * same per-char terms) matches bit-for-bit. Counts are per CODE
  * POINT (astral chars count once, matching UTF-8 engines), not per
  * Java char. Empty/null-free: "" → (0, 0, 0.0).
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_chars", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_distinct",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("entropy",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    HashUtil.charEntropy(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.charEntropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object HashFunctions {
  /** 60-bit md5-prefix hash as a Column (native expression, codegen'd). */
  def md5prefix64(c: Column): Column =
    ColumnBridge.column(Md5Prefix64(ColumnBridge.expression(c)))

  /** md5 k-gram hash array (native, codegen'd) — see [[GramHashes64]]. */
  def gramHashes64(c: Column, k: Int): Column =
    ColumnBridge.column(GramHashes64(ColumnBridge.expression(c), k))

  /** TRUE rolling k-gram hash array, O(n) Rabin–Karp (native,
    * codegen'd) — see [[RollingGramHashes64]].
    */
  def rollingGramHashes64(c: Column, k: Int): Column =
    ColumnBridge.column(RollingGramHashes64(ColumnBridge.expression(c), k))

  /** Positioned stride-1 token-window hashes, O(n) double Rabin–Karp
    * (native, codegen'd) — see [[TokenWindowHashes64]].
    */
  def tokenWindowHashes64(c: Column, k: Int): Column =
    ColumnBridge.column(TokenWindowHashes64(ColumnBridge.expression(c), k))

  /** Nested doubling-window hash grid (native, codegen'd) — see
    * [[TokenWindowHashGrid]].
    */
  def tokenWindowHashGrid(c: Column, k0: Int, levels: Int): Column =
    ColumnBridge.column(
      TokenWindowHashGrid(ColumnBridge.expression(c), k0, levels))

  /** All nine Gopher-repetition n-gram stats in one compiled pass
    * (native, codegen'd) — see [[GramRepStats64]].
    */
  def gramRepStats(c: Column): Column =
    ColumnBridge.column(GramRepStats64(ColumnBridge.expression(c)))

  /** Per-doc distinct bigram counts in one compiled pass (native,
    * codegen'd) — see [[BigramCounts]].
    */
  def bigramCounts(c: Column): Column =
    ColumnBridge.column(BigramCounts(ColumnBridge.expression(c)))

  /** Per-doc distinct token counts in one compiled pass (native,
    * codegen'd) — see [[TokenCounts]].
    */
  def tokenCounts(c: Column): Column =
    ColumnBridge.column(TokenCounts(ColumnBridge.expression(c)))

  /** Fused multi-pattern count-and-redact (native, codegen'd) — see
    * [[RegexRedactStats]].
    */
  def regexRedactStats(c: Column, patterns: Seq[String],
                       replacements: Seq[String]): Column =
    ColumnBridge.column(
      RegexRedactStats(ColumnBridge.expression(c), patterns, replacements))

  /** Ordered-distinct sliding-window minima (native, codegen'd) — see
    * [[SlidingMinDistinct64]].
    */
  def slidingMinDistinct64(c: Column, w: Int): Column =
    ColumnBridge.column(SlidingMinDistinct64(ColumnBridge.expression(c), w))

  /** Distinct word-n-gram shingle hashes (native, codegen'd) — see
    * [[TokenShingleHashes64]].
    */
  def tokenShingleHashes64(c: Column, n: Int): Column =
    ColumnBridge.column(TokenShingleHashes64(ColumnBridge.expression(c), n))

  /** OPH slot minima + rotation densification (native, codegen'd) —
    * see [[OphSlotMins]].
    */
  def ophSlotMins(c: Column, k: Int): Column =
    ColumnBridge.column(OphSlotMins(ColumnBridge.expression(c), k))

  /** Hashed-linear-classifier struct(n_tokens, score) (native,
    * codegen'd) — see [[LinearClassifierScore]].
    */
  def classifierScore(c: Column, weights: Seq[Long]): Column =
    ColumnBridge.column(LinearClassifierScore(ColumnBridge.expression(c), weights))

  /** Multiclass char-n-gram language scores struct(n_grams, scores)
    * (native, codegen'd) — see [[LangGramScores]].
    */
  def langGramScores(c: Column, weights: Seq[Seq[Long]], n: Int): Column =
    ColumnBridge.column(LangGramScores(ColumnBridge.expression(c), weights, n))

  /** 32-bit SimHash fingerprint (native, codegen'd) — see [[SimHash32]]. */
  def simhash32(c: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(c)))

  /** 64-bit SimHash fingerprint (native, codegen'd) — see [[SimHash64]]. */
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))

  /** Row-local char-distribution stats struct(n_chars, n_distinct,
    * entropy) (native, codegen'd) — see [[CharEntropy]].
    */
  def charEntropy(c: Column): Column =
    ColumnBridge.column(CharEntropy(ColumnBridge.expression(c)))
}
