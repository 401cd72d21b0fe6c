package graft.similarity

import graft.functions.Fuzz

/** Person-similarity measures (SURVEY E1–E6; reference
  * `src/aroa_etl/person_matching/similarity_measures.py`).
  *
  * Pure Scala kernels — they run inside the blocked similarity join's
  * score UDF and inside clustering's per-component refinement. All scores
  * are 0–100 with −1 = "not comparable" (absent/empty field).
  */
object Similarity {

  /** E1 `number_diff`: exponential closeness penalty
    * `max(0, 100 − (5^|a−b| − 1))`.
    */
  def numberDiff(a: Int, b: Int): Double = {
    val d = math.abs(a - b)
    if (d > 3) 0.0 // 5^4-1 = 624 > 100; avoids overflow for large gaps
    else math.max(0.0, 100.0 - (math.pow(5, d) - 1))
  }

  private val NumPart = "[1-9]\\d*".r

  /** D5 `parse_date`: `yyyymmdd(.0)` or `dd.mm.yyyy` → (y, m, d). */
  def parseDate(date: String): Option[(Int, Int, Int)] = {
    val p = packedDate(date)
    if (p < 0) None else Some((p / 10000, p / 100 % 100, p % 100))
  }

  /** `n` ASCII digits of `s` from `from` as an Int, or −1 if any is not
    * one (Java's `\d` is ASCII-only, so other Unicode digits reject).
    */
  private def asciiDigits(s: String, from: Int, n: Int): Int = {
    var v = 0
    var i = from
    while (i < from + n) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return -1
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  /** [[parseDate]] as `y * 10000 + m * 100 + d`, or −1 when rejected.
    * Accepts exactly the strings of the whole-input regexes
    * `(\d{4})(\d{2})(\d{2})\.?0?` and `(\d{2})\.(\d{2})\.(\d{4})`
    * without a regex match or an allocation — it runs twice per scored
    * pair inside the blocked join's UDF.
    */
  private def packedDate(s: String): Int = {
    if (s == null) return -1
    val n = s.length
    if (n == 10 && s.charAt(2) == '.' && s.charAt(5) == '.') {
      val d = asciiDigits(s, 0, 2)
      val m = asciiDigits(s, 3, 2)
      val y = asciiDigits(s, 6, 4)
      if (d < 0 || m < 0 || y < 0) -1 else y * 10000 + m * 100 + d
    } else if (n >= 8 && n <= 10) {
      // yyyymmdd read as one 8-digit number is already the packed form
      val ymd = asciiDigits(s, 0, 8)
      val tailOk = n == 8 ||
        (n == 9 && (s.charAt(8) == '.' || s.charAt(8) == '0')) ||
        (n == 10 && s.charAt(8) == '.' && s.charAt(9) == '0')
      if (tailOk) ymd else -1
    } else -1
  }

  private def partScore(a: Int, b: Int): Double =
    if (a == 0 || b == 0) -1.0 else numberDiff(a, b)

  /** E2 `date_similarity`: per-part scores with zero-parts excluded and a
    * day↔month swap tried both ways (the better sum wins).
    */
  def dateSimilarity(date1: String, date2: String): Double = {
    val a = packedDate(date1)
    val b = packedDate(date2)
    if (a < 0 || b < 0) return -1.0
    val m1 = a / 100 % 100
    val d1 = a % 100
    val m2 = b / 100 % 100
    val d2 = b % 100
    val yearScore = partScore(a / 10000, b / 10000)
    var monthScore = partScore(m1, m2)
    var dayScore = partScore(d1, d2)
    // reversed: day1 vs month2, month1 vs day2
    val monthRev = partScore(d1, m2)
    val dayRev = partScore(m1, d2)
    if (monthScore + dayScore <= monthRev + dayRev) {
      monthScore = monthRev; dayScore = dayRev
    }
    // the filtered fold over (year, month, day), unrolled in that order
    var score = 100.0
    if (yearScore >= 0) score -= (100 - yearScore)
    if (monthScore >= 0) score -= (100 - monthScore)
    if (dayScore >= 0) score -= (100 - dayScore)
    math.max(0.0, score)
  }

  /** `__not_empty` (similarity_measures.py:76-77). */
  def notEmpty(field: String): Boolean =
    field != null && field.nonEmpty && field != "00000000" && field != "-1.0" && field != "-1"

  /** E3 `simple_date_matcher`: fraction (≤3) of numeric parts shared. */
  def simpleDateMatcher(src: String, target: String): Double = {
    if (!notEmpty(src) || !notEmpty(target)) return -1.0
    val srcParts = NumPart.findAllIn(src).toSeq
    val trgParts = NumPart.findAllIn(target).toSet
    val shared = math.min(3, srcParts.count(trgParts.contains))
    shared / 3.0 * 100.0
  }

  /** Bounded per-thread memo for the short-string scoring kernels (r21).
    *
    * The blocked joins score millions of candidate pairs, but the DISTINCT
    * (name, name) argument pairs number in the thousands —
    * name corpora are Zipf-distributed, and co-bucketed candidates share
    * prefixes by construction — so a hash probe (≈50 ns) replaces a
    * 1-3 µs kernel on almost every call. Pure functions, so memoization
    * is semantics-free; per-THREAD maps need no synchronization on the
    * hot path. Long inputs bypass the memo (keys would hold big strings
    * for a low hit rate — free text goes through the registered SQL UDFs,
    * not these person matchers). `clear()` on overflow keeps residency
    * bounded at cap × threads with zero bookkeeping; a full-and-cleared
    * map just re-fills from the live key distribution.
    *
    * It no longer serves dates. Birth dates spread over some 17k distinct
    * values, so (date, date) pairs are nearly unique, as prisoner numbers
    * are (see [[idMatcher]]): a date memo mostly missed, kept clearing,
    * and paid a key build and a probe that, profiled on the blocked join,
    * cost more than the allocation-free [[dateSimilarity]] they fronted.
    *
    * NOTE: a plan-level memo (distinct pairs + broadcast join-back) was
    * A/B'd twice in earlier rounds and LOST (see PersonMatching's
    * setScoreCol scaladoc) — the shuffles cost more than the kernels.
    * This is the opposite shape: no plan change, no shuffle, just a
    * thread-local cache inside the existing UDF dispatch.
    */
  private final class PairMemo(cap: Int, maxKeyChars: Int) {
    // SoftReference-wrapped (r22, r21 ADVICE): executor task threads are
    // pooled and long-lived, so a plain ThreadLocal map pins
    // cap × threads entries (order 100 MB across 3 memos at 32 threads)
    // for the life of the JVM even after every query finished. A soft
    // ref keeps the hot-path cost at one extra dereference while letting
    // the GC reclaim idle memos under heap pressure — the memo is a pure
    // cache, so reclamation only costs re-computation.
    private val tl = new ThreadLocal[java.lang.ref.SoftReference[
        java.util.HashMap[String, java.lang.Double]]] {
      override def initialValue(): java.lang.ref.SoftReference[
          java.util.HashMap[String, java.lang.Double]] =
        new java.lang.ref.SoftReference(
          new java.util.HashMap[String, java.lang.Double](256))
    }
    def apply(a: String, b: String)(f: (String, String) => Double): Double = {
      if (a == null || b == null || a.length + b.length > maxKeyChars) return f(a, b)
      var m = tl.get().get()
      if (m == null) {
        m = new java.util.HashMap[String, java.lang.Double](256)
        tl.set(new java.lang.ref.SoftReference(m))
      }
      // length-prefixed key: a separator char alone would be ambiguous
      // for inputs that may CONTAIN it ("a b"+"c" vs "a"+"b c")
      val k = new java.lang.StringBuilder(a.length + b.length + 4)
        .append(a.length).append(':').append(a).append(b).toString
      val hit = m.get(k)
      if (hit != null) return hit.doubleValue()
      val v = f(a, b)
      if (m.size >= cap) m.clear()
      m.put(k, v)
      v
    }
  }
  private val nameMemo = new PairMemo(cap = 1 << 14, maxKeyChars = 64)
  private val setMemo = new PairMemo(cap = 1 << 14, maxKeyChars = 64)

  /** E4 `name_matcher` = `fuzz.ratio` with default_process. */
  def nameMatcher(src: String, target: String): Double =
    nameMemo(src, target)(ratioOrAbsent)

  private val ratioOrAbsent: (String, String) => Double = (a, b) =>
    if (notEmpty(a) && notEmpty(b)) Fuzz.ratio(a, b) else -1.0

  /** [[nameMatcher]] without the pair memo — for identifier-like fields
    * (prisoner numbers) whose VALUES are near-unique per row, so
    * (a, b) pairs essentially never repeat at any scale: the memo can't
    * hit, every probe pays a key allocation, and the unique keys flood
    * the 16k-cap map and `clear()` away the hot name/birthplace entries
    * sharing it. Identical arithmetic to [[nameMatcher]].
    */
  private def idMatcher(src: String, target: String): Double =
    ratioOrAbsent(src, target)

  /** E5 `name_set_matcher` = `fuzz.token_set_ratio`. */
  def nameSetMatcher(src: String, target: String): Double =
    setMemo(src, target) { (a, b) =>
      if (notEmpty(a) && notEmpty(b)) Fuzz.tokenSetRatio(a, b) else -1.0
    }

  /** A person record for matching/clustering; null field = absent. */
  final case class Person(
      gname: String,
      lname: String,
      dob: String = null,
      pob: String = null,
      prisonerNumber: String = null)

  /** E6 `person_similarity` (similarity_measures.py:113-164): weighted
    * combiner — primary = (lname + gname token-set)/2; secondary =
    * mean(prisoner ratio, date sim) folded 2/3 : 1/3; other = birthplace
    * ratio folded 3/4 : 1/4.
    *
    * @param useDate / usePrisoner / usePob mirror "column configured" in
    *   the reference (a configured-but-empty date still contributes 0).
    * @param minScore the caller's score cutoff; the default −∞ never prunes.
    *   The cheap terms (prisoner, date, birthplace) are computed first and
    *   combined with a perfect name score, primary = 100. When even that
    *   bound is below `minScore`, the two token-set name kernels are
    *   skipped and the bound is returned: a value below `minScore`, not the
    *   exact score. This is exact for a `score >= minScore` filter.
    *   primary = (max(0, a) + max(0, b)) / 2 is at most 100, since each
    *   token-set score is. [[combine]] only multiplies by positive
    *   constants and adds, and IEEE round-to-nearest multiplication and
    *   addition are monotone nondecreasing in each operand, so
    *   combine(primary) <= combine(100) = bound. Hence bound < minScore
    *   implies score < minScore, and any returned value >= minScore is the
    *   exact score, bit for bit.
    */
  def personSimilarity(
      src: Person, trg: Person,
      useDate: Boolean = true,
      usePrisoner: Boolean = true,
      usePob: Boolean = true,
      nameOnly: Boolean = false,
      nonNamesOptional: Boolean = false,
      dateMatcher: (String, String) => Double = dateSimilarity,
      minScore: Double = Double.NegativeInfinity): Double = {
    var secondary = -1.0
    var other = -1.0
    if (!nameOnly) {
      // allocation-free (r22): the filtered fold is unrolled keeping the
      // exact element ORDER (prisoner before date) and per-branch
      // admission (>= 0) of the previous Seq pipeline, so every sum/size
      // is bit-identical. Prisoner numbers go through the UNMEMOIZED
      // kernel — identifier pairs never repeat (see idMatcher).
      var ksum = 0.0
      var kn = 0
      if (usePrisoner) {
        val p = idMatcher(src.prisonerNumber, trg.prisonerNumber)
        if (p >= 0) { ksum += p; kn += 1 }
      }
      if (useDate) {
        val d = math.max(0, dateMatcher(src.dob, trg.dob))
        if (d >= 0) { ksum += d; kn += 1 }
      }
      secondary =
        if (kn > 0) ksum / kn
        else if (nonNamesOptional) -1.0
        else 0.0
      if (usePob) {
        val o = nameMatcher(src.pob, trg.pob)
        if (o >= 0) other = o
      }
    }
    val bound = combine(100.0, secondary, other)
    if (bound < minScore) return bound
    // both addends are >= 0.0 (max(0, .)), so dropping Seq.sum's leading
    // 0.0 + changes nothing in IEEE doubles
    val primary = (math.max(0, nameSetMatcher(src.lname, trg.lname)) +
      math.max(0, nameSetMatcher(src.gname, trg.gname))) / 2
    combine(primary, secondary, other)
  }

  /** E6's folds; a negative `secondary` or `other` is absent. */
  private def combine(primary: Double, secondary: Double, other: Double): Double = {
    var score = primary
    if (secondary >= 0) score = 2.0 / 3 * score + 1.0 / 3 * secondary
    if (other >= 0) score = 3.0 / 4 * score + 1.0 / 4 * other
    score
  }
}
