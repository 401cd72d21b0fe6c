package graft.similarity

import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Fuzz

/** Person-similarity measures (SURVEY E1–E6; reference
  * `src/aroa_etl/person_matching/similarity_measures.py`).
  *
  * Pure Scala kernels over Java strings — clustering's per-component
  * refinement calls [[personSimilarity]]; the blocked join scores with
  * `graft.expressions.PersonSimilarity`, which reads the same fields as
  * UTF-8 bytes and shares this object's date parse and combiner. All
  * scores are 0–100 with −1 = "not comparable" (absent/empty field).
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

  /** [[parseDate]] as `y * 10000 + m * 100 + d`, or −1 when rejected,
    * parsed from the string's UTF-8 bytes.
    */
  private def packedDate(s: String): Int =
    if (s == null) -1 else packedDate(UTF8String.fromString(s))

  /** `n` ASCII digit bytes of `u` from `from` as an Int, or −1. */
  private def asciiDigits(u: UTF8String, from: Int, n: Int): Int = {
    var v = 0
    var i = from
    while (i < from + n) {
      val c = u.getByte(i)
      if (c < '0' || c > '9') return -1
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  /** [[parseDate]]'s packed value from UTF-8 bytes, or −1 when rejected.
    * Accepts exactly the strings of the whole-input regexes
    * `(\d{4})(\d{2})(\d{2})\.?0?` and `(\d{2})\.(\d{2})\.(\d{4})`
    * (Java's `\d` is ASCII-only) without a regex match or an allocation:
    * an accepted string is all ASCII, where bytes and chars coincide, and
    * any other character puts a byte >= 0x80 at a checked position
    * (`ParseDateSpec`). The person expression calls it on the struct's
    * bytes in place.
    */
  private[graft] def packedDate(u: UTF8String): Int = {
    if (u == null) return -1
    val n = u.numBytes
    if (n == 10 && u.getByte(2) == '.' && u.getByte(5) == '.') {
      val d = asciiDigits(u, 0, 2)
      val m = asciiDigits(u, 3, 2)
      val y = asciiDigits(u, 6, 4)
      if (d < 0 || m < 0 || y < 0) -1 else y * 10000 + m * 100 + d
    } else if (n >= 8 && n <= 10) {
      val ymd = asciiDigits(u, 0, 8)
      val tailOk = n == 8 ||
        (n == 9 && (u.getByte(8) == '.' || u.getByte(8) == '0')) ||
        (n == 10 && u.getByte(8) == '.' && u.getByte(9) == '0')
      if (tailOk) ymd else -1
    } else -1
  }

  private def partScore(a: Int, b: Int): Double =
    if (a == 0 || b == 0) -1.0 else numberDiff(a, b)

  /** E2 `date_similarity`: per-part scores with zero-parts excluded and a
    * day↔month swap tried both ways (the better sum wins).
    */
  def dateSimilarity(date1: String, date2: String): Double =
    packedDateSimilarity(packedDate(date1), packedDate(date2))

  /** [[dateSimilarity]] over two [[packedDate]] values (−1 = rejected). */
  private[graft] def packedDateSimilarity(a: Int, b: Int): Double = {
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

  /** E4 `name_matcher` = `fuzz.ratio` with default_process, for
    * birthplaces and prisoner numbers. Not memoized: one `match` batch
    * holds some 45k distinct birthplace pairs, and there the kernel alone
    * is faster than a per-thread pair memo (116 against 159 ns per pair).
    */
  def nameMatcher(src: String, target: String): Double =
    if (notEmpty(src) && notEmpty(target)) Fuzz.ratio(src, target) else -1.0

  /** E5 `name_set_matcher` = `fuzz.token_set_ratio`. */
  def nameSetMatcher(src: String, target: String): Double =
    if (notEmpty(src) && notEmpty(target)) Fuzz.tokenSetRatio(src, target) else -1.0

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
      secondary = secondaryTerm(
        if (usePrisoner) nameMatcher(src.prisonerNumber, trg.prisonerNumber) else -1.0,
        if (useDate) math.max(0, dateMatcher(src.dob, trg.dob)) else -1.0,
        nonNamesOptional)
      if (usePob) other = nameMatcher(src.pob, trg.pob)
    }
    val bound = combine(100.0, secondary, other)
    if (bound < minScore) return bound
    combine(primaryTerm(nameSetMatcher(src.lname, trg.lname),
      nameSetMatcher(src.gname, trg.gname)), secondary, other)
  }

  // E6's combiner, in three pieces shared with the blocked join's
  // `graft.expressions.PersonSimilarity`, so both scorers run the same
  // floating-point operations in the same order.

  /** The mean of the present prisoner and date scores (a negative one is
    * absent; a used date is clamped to >= 0 and so always present), or,
    * with neither, 0 (−1 = absent under `nonNamesOptional`). The filtered
    * fold keeps the reference's element order, prisoner before date.
    */
  private[graft] def secondaryTerm(
      prisoner: Double, date: Double, nonNamesOptional: Boolean): Double = {
    var ksum = 0.0
    var kn = 0
    if (prisoner >= 0) { ksum += prisoner; kn += 1 }
    if (date >= 0) { ksum += date; kn += 1 }
    if (kn > 0) ksum / kn
    else if (nonNamesOptional) -1.0
    else 0.0
  }

  /** The mean of the two token-set name scores, each clamped to >= 0.
    * Both addends are >= 0.0, so dropping `Seq.sum`'s leading `0.0 +`
    * changes nothing in IEEE doubles.
    */
  private[graft] def primaryTerm(lname: Double, gname: Double): Double =
    (math.max(0, lname) + math.max(0, gname)) / 2

  /** E6's folds; a negative `secondary` or `other` is absent. */
  private[graft] def combine(primary: Double, secondary: Double, other: Double): Double = {
    var score = primary
    if (secondary >= 0) score = 2.0 / 3 * score + 1.0 / 3 * secondary
    if (other >= 0) score = 3.0 / 4 * score + 1.0 / 4 * other
    score
  }
}
